#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <medallion|catalog> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the program and the
harness with sbt (perfbench/build.sbt), later runs reuse the classpath in
perfbench/target. Each run then

  1. generates its input from --seed into perfbench/.run/<run id>/
     (the medallion drops, or the star-schema tables the queries read);
  2. starts one JVM (perfbench.Main) on a GraftSession, which does an
     untimed pass that warms up and produces the output to check, then
     timed passes for --seconds;
  3. checks the outputs (the medallion tables against the generator's
     manifest, every query against its DuckDB oracle), measures and
     removes the scratch the run left behind, and prints a summary line,
     then the result as the last line of stdout.

Workloads (see README.md):
  medallion  MedallionJob.run on a full drop, then on an incremental drop,
             each pass into an empty warehouse
  catalog    the batch queries and Structured Streaming drains listed in
             queries/catalog.txt

With --trace 0 the result holds the end-to-end metrics, with --trace 1
the per-layer metrics (see BENCHMARK.json and metrics.py).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_medallion  # noqa: E402
import gen_sf  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("medallion", "catalog")
# input sizes: small enough that a run fits its time budget on 4 cores
MEDALLION = {"days_full": 4, "days_incr": 2, "rows": 500}
# AQE's initial shuffle width for the medallion workload. At the program's
# default of 512 one pass in a fresh JVM takes ~120 s on 4 cores, past a
# run's time budget; at 4 it takes ~50 s, almost all of it fixed cost.
MEDALLION_WIDTH = "4"
SF = 0.01
SPLIT_GATE_BYTES = 128 << 20  # SourceLoader's split-reader gate
# the JVM's start, session build and untimed pass, on top of --seconds: at
# the benchmark's 5 s a hung run is stopped and fails inside 180 s
JVM_OVERHEAD_S = 160
SCRATCH_PREFIXES = ("graft_",)  # what the program creates under /dev/shm


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_mtime(root):
    newest = 0.0
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, _, files in os.walk(os.path.join(root, top)):
            if "target" in d.split(os.sep):
                continue
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", "perfbench/build.sbt"):
        newest = max(newest, os.path.getmtime(os.path.join(root, f)))
    return newest


def build(root):
    """Compile the program and the harness; return the runtime classpath
    and the JVM options the program's build.sbt runs it with (heap from
    SPARK_DRIVER_MEM when the build was made, --add-opens)."""
    launch_file = os.path.join(HERE, "target", "launch.json")
    if os.path.exists(launch_file) and os.path.getmtime(launch_file) >= sources_mtime(root):
        launch = json.load(open(launch_file))
        return launch["classpath"], launch["java_options"]
    os.makedirs(os.path.dirname(launch_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(HERE, "target", "build.log")
    with open(log, "w") as f:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath", "print Runtime/javaOptions"],
                           cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if l.startswith("/")]
    opts = [l[2:] for l in lines if l.startswith("* ")]
    if p.returncode != 0 or not cps or not opts:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    with open(launch_file, "w") as f:
        json.dump({"classpath": cps[-1], "java_options": opts}, f)
    return cps[-1], opts


def tree_bytes(path):
    if os.path.isfile(path) or os.path.islink(path):
        return os.lstat(path).st_size
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def shm_entries():
    try:
        return {e for e in os.listdir("/dev/shm") if e.startswith(SCRATCH_PREFIXES)}
    except OSError:
        return set()


def input_bytes(data):
    """Bytes per input format, the figure the split-reader gate reads."""
    out = {}
    for d, _, files in os.walk(data):
        for f in files:
            ext = f.rsplit(".", 1)[-1]
            out[ext] = out.get(ext, 0) + os.path.getsize(os.path.join(d, f))
    return out


def commit(root):
    """The git commit, when the run happens in a git checkout."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def check_oracle(root, data, results):
    """Every query's result against its DuckDB oracle, by the repository's
    own checker; the JVM wrote the results and an oracle_sql.json holding
    only this run's queries. Returns the problems found, one line each."""
    p = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                        data, results], capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, timeout=120)
    problems = [l[len("FAIL "):].strip() for l in p.stdout.splitlines() if l.startswith("FAIL")]
    if p.returncode != 0 and not problems:
        problems.append(f"check_oracle.py exited with {p.returncode}: {p.stderr.strip()[-300:]}")
    return problems


def run_jvm(cp, java_options, args, tmp, log, env, timeout):
    env = dict(env, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    cmd = (["java"] + java_options + [f"-Djava.io.tmpdir={tmp}",
                                      "-cp", cp, "perfbench.Main"] + args)
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "tools/check_oracle.py",
                 "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the repository root: {need} is missing")
    cp, java_options = build(root)

    setup_t0 = time.time()
    work = os.path.join(HERE, ".run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data, tmp = os.path.join(work, "data"), os.path.join(work, "tmp")
    os.makedirs(tmp)
    shm_before = shm_entries()
    ok = False  # a failed run keeps its work dir (logs, outputs) for a look
    try:
        record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": a.trace, "java_options": java_options, "commit": commit(root),
                  "source": metrics.source_digest(root)}
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--data", data, "--out", os.path.join(work, "out.json"),
                    "--warehouse", os.path.join(work, "warehouse")]
        if a.workload == "medallion":
            manifest = gen_medallion.generate(data, a.seed, **MEDALLION)
            record["drops"] = dict(MEDALLION)
        else:
            gen_sf.generate(data, a.seed, SF)
            manifest = None
            record["sf"] = SF
            jvm_args += ["--queries", os.path.join(HERE, "queries", f"{a.workload}.txt")]
        record["input_bytes"] = input_bytes(data)
        record["split_gate_bytes"] = SPLIT_GATE_BYTES

        env = dict(os.environ)
        if a.workload == "medallion":
            env["SPARK_GRAFT_INITIAL_PARTITIONS"] = MEDALLION_WIDTH
        rc = run_jvm(cp, java_options, jvm_args, tmp, os.path.join(work, "jvm.log"), env,
                     a.seconds + JVM_OVERHEAD_S)
        out_file = os.path.join(work, "out.json")
        if rc != 0 or not os.path.exists(out_file):
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            fail(f"JVM exited with {rc}")
        out = json.load(open(out_file))

        leaked = sum(tree_bytes(os.path.join("/dev/shm", e)) for e in shm_entries() - shm_before)
        leaked += tree_bytes(tmp)
        if a.workload == "medallion":
            problems = metrics.check_medallion(out, manifest)
        else:
            problems = check_oracle(root, data, os.path.join(work, "results"))
            problems += out.get("check_errors", [])
        record.update(out.get("record", {}))
        ops = out["ops"]
        failed = sum(1 for o in ops if "error" in o)
        if a.trace:
            result = metrics.per_layer(out, leaked)
        else:
            result = metrics.end_to_end(out, setup_t0)
        summary = {"record": record, "problems": problems[:20],
                   "samples": {"ops": len(ops), "passes_s": out["passes_s"]},
                   "op_s": {o["name"]: [] for o in ops},
                   "failed_ops": [o["name"] + ": " + o["error"] for o in ops if "error" in o][:10]}
        for o in ops:
            summary["op_s"][o["name"]].append(o["build_s"] + o["exec_s"])
        print(json.dumps(summary, sort_keys=True))
        print(json.dumps({"correct": not problems and failed == 0, "attempted": len(ops),
                          "failed": failed, "metrics": result}))
        ok = True
    finally:
        for e in shm_entries() - shm_before:
            p = os.path.join("/dev/shm", e)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
        if ok:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
