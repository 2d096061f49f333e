#!/usr/bin/env python3
"""Benchmark of the log-report product path (`graft.cli.Main --xlsx`).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload mongo_report --seed 7 \\
        --seconds 10 --trace 0

Builds the engine and the harness from source (once per source tree),
generates the workload's inputs from the seed, then measures in fresh
JVMs, one closed-loop client in `local[*]`:

  setup_s       JVM start to a SparkSession with GraftExtensions, built
                as cli.Main builds it; median of two fresh JVMs
  first_op_s    the first report of a fresh process (cold codegen/JIT),
                before anything else runs in it
  op_s          median wall time of the timed reports, after warm-up
  peak_heap_mb  peak live heap (in use right after a full collection) of
                the last warm-up report, with full collections forced
                while it runs, densest inside XlsxWriter

Every report is checked against what the generator planted; a report
that throws or mismatches counts in `failed`. `mysql_report` also runs
the same log rotated into four files, which fails today on a known
defect (ARITHMETIC_OVERFLOW in MySqlLogPipeline.entriesFromFiles): it
counts as failed and stays out of op_s, and it does not make the run
incorrect unless it fails some other way.

With `--trace 1` each timed iteration is a traced report and a plain one;
the traced one calls the report's public layers one span at a time and the
output is the per-layer metrics of BENCHMARK.json, plus the tracing
overhead. The last stdout line is the result JSON; the lines before it
stamp the run (source digest, host, heap, canary) and describe the
inputs.
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
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)
import gen  # noqa: E402

HEAP = "2g"
# fresh processes per untraced run, each giving one setup_s sample; the
# last one goes on to the cold operation and the timed loop
SETUP_SAMPLES = 2
JVM_TIMEOUT_S = 150

# Input sizes, a share of the sf0.1 fixture logs (100000 mongod lines,
# 150000 slow-log entries): 25000 lines (about 5.3 MB) and 40000 entries
# (about 10.5 MB). At full size a run would take about 90 s, not 60, and
# a set of some fifty runs would not finish within an hour.
MONGO_LINES = 25000
MYSQL_ENTRIES = 40000

# name -> (input generator of a given size, input size, warm-up reports
# before the timed loop, the last of them with its heap sampled). A
# report keeps speeding up for its first runs in a process (JIT of the
# planner and the per-row paths): on 4 cores the mongo report took 19.5,
# 6.3, 5.0, 4.4, 4.0, 4.2 s, the MySQL one 15.9, 5.6, 5.0, 5.0 s. One
# warm-up keeps a run near a minute; op_s, the median of the timed
# reports that follow, still includes some of the mongo speed-up.
WORKLOADS = {
    "mongo_report": (lambda d, seed, n: gen.mongo_log(d, seed, lines=n), MONGO_LINES, 1),
    "mysql_report": (lambda d, seed, n: gen.mysql_log(d, seed, entries=n, rotated_files=4),
                     MYSQL_ENTRIES, 1),
}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def tree_digest(paths):
    """sha1 over the relative names and bytes of every file under paths."""
    h = hashlib.sha1()
    for top in paths:
        full = os.path.join(ROOT, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(full)
            if "target" not in os.path.relpath(d, full).split(os.sep) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/harness/build.sbt", "perfbench/harness/project/build.properties",
           "perfbench/harness/src"]


def build():
    """Compile engine + harness with sbt, unless this source tree already was."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources (build.sbt, src/main) next to perfbench/")
    digest = tree_digest(SOURCES)
    launch_json = os.path.join(WORK, "launch.json")
    if os.path.exists(launch_json):
        with open(launch_json) as f:
            launch = json.load(f)
        if launch.get("digest") == digest:
            return launch
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g",
                "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        # own process group: the sbt launcher script forks the JVM, and a
        # timeout must take both down
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile", "writeLaunch"], cwd=HARNESS, env=env,
                             stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=840)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed (sbt exit %s)" % rc)
    with open(os.path.join(HARNESS, "target", "launch.txt")) as f:
        lines = f.read().splitlines()
    launch = {"digest": digest, "classpath": lines[0], "java_options": lines[1:]}
    with open(launch_json, "w") as f:
        json.dump(launch, f)
    return launch


def jvm(launch, run_dir, name, harness_args):
    """One harness process; returns what it measured (None if it died)."""
    work = os.path.join(run_dir, name)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(work, "result.json")
    cmd = ["java", *launch["java_options"], "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp, None, "-cp", launch["classpath"],
           "perfbench.Harness", "--work", work, "--result", result, *harness_args]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        cmd[cmd.index(None)] = "-Dperfbench.t0=%d" % time.time_ns()
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        print("perfbench: %s exited %s without a result" % (name, p.returncode), file=sys.stderr)
        return None
    with open(result) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else None


def stamp(launch, main_result):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True).stdout.strip() or "unknown"
    except OSError:
        sha = "unknown"
    keys = ["heap", "nproc", "master", "pin_mode", "canary_proto",
            "canary_pre_s", "canary_post_s"]
    return dict({"git_sha": sha, "source_digest": launch["digest"],
                 "nproc_host": os.cpu_count()},
                **{k: main_result.get(k) for k in keys})


def layer_metrics(result, names):
    """Per-layer medians over the traced reports, tracing overhead included."""
    out = {n: median([s.get(n, 0.0) for s in result["spans"]]) or 0.0 for n in names}
    out["session.build_s"] = result["session_build_s"]
    plain = [o["wall_s"] for o in result["ops"] if o["phase"] == "timed" and o["ok"]
             and not o["traced"] and o["kind"] == result["ops"][0]["kind"]]
    traced = [o["wall_s"] for o in result["ops"] if o["traced"]]
    if plain and traced:
        out["trace.overhead_s"] = median(traced) - median(plain)
    return out


def problems_of(ops, plan, main_r, trace):
    """Everything that makes the run incorrect; the known defect does not."""
    out = ["%s: %s" % (o["kind"], o["err"]) for o in ops
           if not o["ok"] and not o["known_defect"]]
    if trace and not main_r["spans"]:
        out.append("no traced operation fitted in --seconds")
    if trace:
        bad = {k: (main_r["counts"].get(k), v) for k, v in plan.get("trace_counts", {}).items()
               if main_r["counts"].get(k) != v}
        if bad:
            out.append("trace counts (got, planted): %s" % bad)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still takes its JVM down (see jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = spec()
    launch = build()
    run_dir = os.path.join(WORK, "run-%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        clock = [("start", time.time())]
        make_inputs, size, warmup = WORKLOADS[a.workload]
        plan = make_inputs(os.path.join(run_dir, "inputs"), a.seed, size)
        plan_path = os.path.join(run_dir, "expect.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        clock.append(("inputs", time.time()))
        common = ["--workload", a.workload, "--plan", plan_path, "--trace", str(a.trace)]

        setups = []
        for i in range(0 if a.trace else SETUP_SAMPLES - 1):
            r = jvm(launch, run_dir, "setup%d" % i,
                    common + ["--seconds", "0", "--setup-only", "1"])
            if r is None:
                fail("set-up process %d failed" % i)
            setups.append(r["setup_s"])
        clock.append(("setup_jvms", time.time()))
        main_r = jvm(launch, run_dir, "main", common + [
            "--seconds", str(a.seconds), "--warmup", str(warmup)])
        if main_r is None:
            fail("the measuring process failed")
        clock.append(("main_jvm", time.time()))
        setups.append(main_r["setup_s"])

        ops = main_r["ops"]
        for o in ops:
            if o["ok"]:
                o["err"] = gen.check_report(o["out"], plan) or ""
                o["ok"] = not o["err"]
        problems = problems_of(ops, plan, main_r, a.trace)
        clock.append(("checks", time.time()))
        first = ops[0]
        # op_s comes from the plain timed operations of the workload's main
        # kind (the rotated MySQL form stays out), the heap from the last
        # warm-up report, whose heap was sampled
        plain = [o for o in ops if o["phase"] == "timed" and o["ok"]
                 and not o["traced"] and o["kind"] == first["kind"]]
        sampled = [o for o in ops if o["phase"] == "heap" and o["ok"]]
        if not plain or not sampled:
            problems.append("no successful plain timed or heap-sampled operation")
        failed = sum(not o["ok"] for o in ops)
        info = {
            "stamp": stamp(launch, main_r),
            "wall_s": {k: round(t - clock[i][1], 2) for i, (k, t) in enumerate(clock[1:])},
            "inputs": plan["census"],
            "ops": {"attempted": len(ops), "failed": failed, "failed_share": failed / len(ops),
                    "known_defect": sum(o["known_defect"] for o in ops),
                    "walls_s": {k: [round(o["wall_s"], 3) for o in ops if o["kind"] == k]
                                for k in sorted({o["kind"] for o in ops})},
                    "heap_mb": [round(o["heap_mb"], 1) for o in sampled]},
            "problems": problems[:10],
        }
        if a.trace:
            info["counts"] = main_r["counts"]
        print(json.dumps(info))

        if a.trace:
            values = layer_metrics(main_r, [m["name"] for m in bench["per_layer"]])
            metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in bench["per_layer"]}
        else:
            values = {
                "setup_s": median(setups),
                "first_op_s": first["wall_s"],
                "op_s": median([o["wall_s"] for o in plain]),
                "peak_heap_mb": median([o["heap_mb"] for o in sampled]),
            }
            metrics = {m["name"]: {"value": values[m["name"]] or 0.0, "unit": m["unit"]}
                       for m in bench["end_to_end"]}
            for n, m in metrics.items():
                print("%-14s %12.4f  %s" % (n, m["value"], m["unit"]))
            print("%-14s %12.4f  %s" % ("failed_share", failed / len(ops), "share"))
        print(json.dumps({"correct": not problems, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
