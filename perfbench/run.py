#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt), writes
seeded inputs, runs the workload on local[nproc] from one client in a
closed loop for `--seconds`, checks every output against its DuckDB
oracle, and prints each metric with its unit; the last stdout line is
the JSON result. `--trace 0` reports the end-to-end metrics, `--trace 1`
the per-layer ones from a run with Spark listeners attached. Everything
it writes stays under perfbench/target/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

TARGET = os.path.join(HERE, "target")
BUILD_OUT = os.path.join(TARGET, "bench")
ARCHIVE = os.path.join(BUILD_OUT, "classes.jsa")
HEAP = "3g"
# C1 only: a run this short never reaches C2's steady state, and C2
# compiles took 20 to 80 CPU-seconds of a 4-core timed pass, so their
# timing set most of the run-to-run spread.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]
RUN_LIMIT_S = 165


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_child(cmd, timeout, log_path=None, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout
    the whole group is killed and reaped before raising."""
    out = open(log_path, "w") if log_path else sys.stderr
    try:
        proc = subprocess.Popen(cmd, stdout=out, stderr=out, stdin=subprocess.DEVNULL,
                                start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    finally:
        if log_path:
            out.close()


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(HERE, "workloads.py")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    """sbt resolves offline against the local caches only."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_OUT, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building engine and harness (sbt benchExport)")
    t0 = time.time()
    if run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchExport"],
                 timeout=600, cwd=HERE, env=sbt_env()) != 0:
        raise SystemExit("sbt build failed")
    train_class_archive()
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")


def train_class_archive():
    """Dumps a class-data-sharing archive of the classes a workload run
    loads, from one small medallion run that also counts the query
    workloads' ops, so each measured JVM maps them instead of loading
    and verifying them."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(TARGET, "work", "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = dict(workloads.WORKLOADS["medallion_refresh"], sf=0.001)
    inputs, _ = prepare_inputs(wl, 0, work)
    ops = sorted({op for w in workloads.WORKLOADS.values() if w["kind"] == "queries"
                  for op in w["ops"]})
    arts = sorted({a for w in workloads.WORKLOADS.values() for a in w["artifacts"]})
    harness_args = dict(inputs, kind="medallion", ops=",".join(ops), artifacts=",".join(arts),
                        exclude=wl["exclude"], setups=1, models=os.path.join(ROOT, "models"),
                        work=work, out=os.path.join(work, "record.json"), seed=0, seconds=0, trace=1,
                        cpus=os.cpu_count() or 1)
    cmd = java_command(work, harness_args, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    if run_child(cmd, 240, os.path.join(work, "harness.log"), cwd=ROOT) != 0:
        raise SystemExit("class archive training run failed")
    shutil.rmtree(work, ignore_errors=True)


def java_command(work, harness_args, jvm=None):
    with open(os.path.join(BUILD_OUT, "classpath.txt")) as fh:
        cp = fh.read().strip()
    with open(os.path.join(BUILD_OUT, "javaopts.txt")) as fh:
        opts = [o for o in fh.read().split("\n") if o and not o.startswith("-Xmx")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if jvm is None:
        jvm = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    return (["java"] + jvm + JIT + [f"-Xmx{HEAP}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}"]
            + opts + ["-cp", cp, "perfbench.Harness"]
            + [f"{k}={v}" for k, v in harness_args.items()])


def prepare_inputs(wl, seed, work):
    """Seeded inputs for the workload; returns harness arguments."""
    tables = gen.make_tables(seed, wl["sf"])
    gen.check_tables(tables)
    if wl["kind"] == "medallion":
        day1, day2, delta = gen.split_days(tables, seed)
        gen.check_days(day1, day2, delta)
        dirs = {}
        for name, t in [("day1", day1), ("day2", day2), ("delta", delta)]:
            dirs[name] = os.path.join(work, "data", name)
            gen.write_dir(t, dirs[name])
        return {"day1": dirs["day1"], "day2": dirs["day2"]}, dirs
    data = os.path.join(work, "data", "base")
    gen.write_dir(tables, data)
    return {"data": data}, {"data": data}


def run(args):
    wl = workloads.WORKLOADS[args.workload]
    build()
    started = time.time()
    work = os.path.join(TARGET, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs, dirs = prepare_inputs(wl, args.seed, work)
    cores = os.cpu_count() or 1
    out = os.path.join(work, "record.json")
    harness_args = dict(inputs, kind=wl["kind"], ops=",".join(wl["ops"]),
                        artifacts=",".join(wl["artifacts"]), exclude=wl.get("exclude", ""),
                        setups=wl["setups"],
                        models=os.path.join(ROOT, "models"), work=work, out=out,
                        seed=args.seed, seconds=args.seconds, trace=args.trace, cpus=cores)
    code = run_child(java_command(work, harness_args), RUN_LIMIT_S - (time.time() - started),
                     os.path.join(work, "harness.log"), cwd=ROOT)
    if code != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "harness.log")) as fh:
            log(fh.read()[-4000:])
        raise SystemExit(f"harness exited with {code}")
    with open(out) as fh:
        raw = json.load(fh)
    rec = metrics.Record(raw)
    import oracle  # reads the repository's tools/compare.py
    source = dirs.get("day2", dirs.get("data"))
    checks = oracle.check(source, os.path.join(work, "check"), raw["oracle"])
    failed = len(raw["failures"]) + sum(1 for ok in checks.values() if not ok)
    attempted = raw["attempted"] + len(checks)
    for f in raw["failures"]:
        log(f"FAILED {f['what']}: {f['error']}")
    for name, ok in sorted(checks.items()):
        if not ok:
            log(f"FAILED oracle check {name}")
    if args.trace:
        sizes = {"source": gen.dir_bytes(source), "delta": gen.dir_bytes(dirs.get("delta", "")),
                 "warehouse": gen.dir_bytes(os.path.join(work, "warehouse", "1"))}
        values = metrics.per_layer(rec, wl["kind"], cores, sizes)
        units = workloads.PER_LAYER_UNITS
        raw["op_table"] = metrics.op_table(rec, wl["kind"])
    else:
        values, notes = metrics.end_to_end(rec, wl["kind"])
        units = workloads.END_TO_END_UNITS
        print(f"op_tail_s is p{notes['op_tail_percentile']:.0f} of {notes['op_samples']} op "
              f"samples over {notes['passes']} timed passes")
    values = {k: values[k] for k in units}
    print(f"fail_ratio {failed / attempted:.4f} ratio ({failed} of {attempted} attempted)")
    for k, v in values.items():
        print(f"{k} {v:.6g} {units[k]}")
    result = {"correct": failed == 0 and bool(checks), "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    records = os.path.join(TARGET, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "result": result, "record": raw}, fh)
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "warehouse"), ignore_errors=True)
    print(json.dumps(result))


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log(f"no engine sources under {ROOT}: run from a checkout of the repository")
        sys.exit(2)
    run(args)


if __name__ == "__main__":
    main()
