"""graft's benchmark: runs one workload from a seed and prints its metrics.

    python3 perfbench/run.py --workload sql_topic --seed 1 --seconds 15 --trace 0

Run from the repository root. It builds graft and the harness from source
(perfbench/build.py), runs the workload in a fresh JVM with a local[4]
GraftSession, checks the outputs, and prints one line per metric followed
by one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json.
With --trace 1 the workload runs twice, untraced and then traced (spans,
Spark listener counters, streaming progress), and the metrics are the
per-layer ones, including the traced/untraced ratio of every end-to-end
metric (trace.overhead.*). Full results, the environment record and the
trace go to .bench_build/results/.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170
WORKLOADS = ("sql_topic", "stream_events", "curate_docs")


def fail(msg):
    print("perfbench: %s" % msg, file=sys.stderr)
    sys.exit(2)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def launch(classpath, flags, args, work, log_path, deadline):
    """Run the harness in a fresh JVM; return its exit code, or None if it
    ran past the deadline (it is then killed)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
            "-Djava.awt.headless=true", "-Dspark.ui.enabled=false",
            "-Dspark.hadoop.hadoop.tmp.dir=" + tmp] + flags + opens +
           ["-cp", os.pathsep.join(classpath), "graftbench.Main"] + args +
           ["--work", work, "--t0-ms", str(int(time.time() * 1000))])
    with open(log_path, "w") as log:
        # Spark binds to loopback and skips host-name lookups
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT, env=env,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def class_archive(classpath, digest):
    """JVM flags that use the class-data sharing archive of this build,
    made on first use by one short sql_topic run. Loading Spark's classes
    from the archive takes about 5 s off each JVM start. Without an
    archive the JVMs start the slow way."""
    base = os.path.join(build.build_dir(), "cds")
    jsa, stamp = os.path.join(base, "app.jsa"), os.path.join(base, "stamp")
    if not (os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(jsa)):
        shutil.rmtree(base, ignore_errors=True)
        work = os.path.join(base, "work")
        os.makedirs(work)
        args = ["--workload", "sql_topic", "--seed", "0", "--seconds", "1", "--trace", "0",
                "--out", os.path.join(base, "out.json")]
        code = launch(classpath, ["-XX:ArchiveClassesAtExit=" + jsa], args, work,
                      os.path.join(base, "dump.log"), time.time() + 600)
        shutil.rmtree(work, ignore_errors=True)
        if code != 0 or not os.path.exists(jsa):
            print("perfbench: no class-data sharing archive (see %s)" % os.path.join(base, "dump.log"),
                  file=sys.stderr)
            return []
        with open(stamp, "w") as f:
            f.write(digest)
    return ["-XX:SharedArchiveFile=" + jsa]


def run_jvm(classpath, flags, workload, seed, seconds, trace, run_dir, deadline):
    """Run the harness once; return its result dict (and trace path)."""
    tag = "trace" if trace else "timed"
    work = os.path.join(run_dir, tag)
    out = os.path.join(run_dir, "%s.json" % tag)
    log_path = os.path.join(run_dir, "%s.log" % tag)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--out", out]
    code = launch(classpath, flags, args, work, log_path, deadline)
    if code is None:
        fail("%s run exceeded its time limit; see %s" % (tag, log_path))
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail("%s run failed (exit %s):\n%s" % (tag, code, tail))
    res = load_json(out)
    shutil.rmtree(work, ignore_errors=True)
    return res, out + ".trace.json"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json missing")
    bench = load_json(bench_json)
    if a.workload not in WORKLOADS:
        fail("unknown workload %r" % a.workload)

    try:
        classpath, digest = build.build()
    except build.BuildError as e:
        fail(str(e))
    flags = class_archive(classpath, digest)
    # the run limit starts after the build: the first run in a checkout builds
    deadline = time.time() + RUN_LIMIT_S - min(30.0, time.time() - started)

    run_dir = os.path.join(build.build_dir(), "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(run_dir, exist_ok=True)
    results_dir = os.path.join(build.build_dir(), "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir, "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))

    timed, _ = run_jvm(classpath, flags, a.workload, a.seed, a.seconds, False, run_dir, deadline)
    result = timed
    e2e_names = [m["name"] for m in bench["end_to_end"]]
    if a.trace:
        traced, trace_path = run_jvm(classpath, flags, a.workload, a.seed, a.seconds, True,
                                     run_dir, deadline)
        if os.path.exists(trace_path):
            shutil.copy(trace_path, stem + ".trace.json")
        progress = os.path.join(run_dir, "trace.json.progress.json")
        if os.path.exists(progress):
            shutil.copy(progress, stem + ".progress.json")
        layers = dict(traced["layers"])
        for n in e2e_names:
            t, u = traced["e2e"].get(n), timed["e2e"].get(n)
            layers["trace.overhead." + n] = (t / u) if (t and u) else None
        names = [m["name"] for m in bench["per_layer"]]
        # a layer that does no work on this workload reports 0 for it
        idle = [n for n in names if n not in layers]
        metrics = {n: layers.get(n, 0.0) for n in names}
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        traced["layers_idle_on_this_workload"] = idle
        traced["untraced_e2e"] = timed["e2e"]
        result = traced
        attempted = timed["attempted"] + traced["attempted"]
        failed = timed["failed"] + traced["failed"]
        correct = failed == 0 and timed["valid"] and traced["valid"]
    else:
        metrics = {n: timed["e2e"].get(n) for n in e2e_names}
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        attempted, failed = timed["attempted"], timed["failed"]
        correct = failed == 0 and timed["valid"]

    missing = [n for n, v in metrics.items() if not isinstance(v, (int, float)) or v != v]
    if missing:
        correct = False
        result.setdefault("failures", []).append("metrics not measured: %s" % ", ".join(missing))
    with open(stem + ".json", "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    env = result["env"]
    print("workload %s seed %d seconds %d trace %d" % (a.workload, a.seed, a.seconds, a.trace))
    print("env " + " ".join("%s=%s" % (k, env[k]) for k in sorted(env)))
    print("input " + " ".join("%s=%s" % (k, v) for k, v in result["input"].items()))
    for name, m in result["named"].items():
        print("%-24s %14.4f %-6s n=%-6s %s" % (name, m["value"] if m["value"] is not None else float("nan"),
                                                 m["unit"], m["n"], m.get("as", "")))
    for r in result.get("invalid_reasons", []):
        print("INVALID: " + r)
    for r in result.get("quality_findings", []):
        print("BELOW CONTRACT: " + r)
    for r in result.get("failures", []):
        print("FAILED: " + r)
    print(json.dumps({
        "correct": bool(correct), "attempted": int(max(1, attempted)), "failed": int(failed),
        "metrics": {n: {"value": (v if isinstance(v, (int, float)) and v == v else None),
                        "unit": units[n]} for n, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
