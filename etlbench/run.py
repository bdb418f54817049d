#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 etlbench/run.py --workload reference_etl --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program
(`src/main/scala`) and the harness (`etlbench/src`) with the Scala
compiler that ships in Spark's jars, into `$CARGO_TARGET_DIR` (default
`.bench_build`), keyed by a digest of the sources; later runs reuse it.
Each run starts one JVM with a fixed, pre-touched heap, runs the
workload's fixed pass counts (see `etlbench/README.md`), and prints a
record line and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones. `--seconds` is recorded, not obeyed:
pass counts are fixed so that every run is sampled at the same point of
the JIT warm-up curve (they are sized to time about that long).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HEAP = "3g"
JVM_TIMEOUT_S = 170
SCALAC_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HERE = os.path.dirname(os.path.abspath(__file__))


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, harness


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    compiler = [os.path.join(jars, f"scala-{m}-2.13.*.jar") for m in ("compiler", "library", "reflect")]
    compiler = [glob.glob(c)[0] for c in compiler]
    cmd = ["java", f"-Xmx{SCALAC_HEAP}", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compilation failed ({len(files)} files into {out})")


def build(root, jars):
    """Compile the program, then the harness against it; reuse a prior build."""
    main, harness = sources(root)
    if not main:
        fail("no program sources under src/main/scala: run from the root of a checkout")
    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", os.path.join(root, ".bench_build")))
    main_out = os.path.join(target, "main-" + digest(main))
    harness_out = os.path.join(target, "harness-" + digest(main + harness))
    spark_cp = os.path.join(jars, "*")
    for out, cp, files in ((main_out, spark_cp, main),
                           (harness_out, os.pathsep.join([main_out, spark_cp]), harness)):
        if not os.path.exists(os.path.join(out, ".done")):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            scalac(jars, cp, out, files)
            open(os.path.join(out, ".done"), "w").close()
            print(f"etlbench: compiled {len(files)} files in {time.time() - t0:.1f}s",
                  file=sys.stderr)
    cp = [main_out, harness_out]
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        cp.append(resources)
    return target, os.pathsep.join(cp + [spark_cp])


def cpu_probe_ms():
    """A fixed integer loop: its time rises when the host's CPU is contended."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0


def cpu_shares():
    """Cumulative CPU time counters of this machine (Linux /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def run_jvm(target, classpath, args):
    run_dir = os.path.join(target, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m",
            "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", classpath, "etlbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--trace", str(args.trace), "--run-dir", run_dir,
              "--cores", str(os.cpu_count() or 4)])
    # every file the JVM writes stays under the run directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"the run did not finish within {JVM_TIMEOUT_S}s")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("ETLBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"the benchmark JVM exited with code {proc.returncode}")
    return json.loads(lines[-1][len("ETLBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json here: run from the root of a checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    jars = spark_jars()
    target, classpath = build(root, jars)

    probe_before = cpu_probe_ms()
    stat0 = cpu_shares()
    t0 = time.time()
    res = run_jvm(target, classpath, args)
    jvm_s = time.time() - t0
    stat1 = cpu_shares()
    probe_after = cpu_probe_ms()
    # set-up is timed from process start to the end of input generation
    res["metrics"]["setup_s"] = res["setup_end_ms"] / 1000.0 - t0
    # the share of this VM's CPU time the hypervisor gave to others
    # during the run (/proc/stat "steal"): high on a contended host
    steal = None
    if stat0 and stat1 and len(stat0) > 7:
        d = [b - a for a, b in zip(stat0, stat1)]
        steal = d[7] / max(sum(d), 1)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layer"] if args.trace else res["metrics"]
    # a per-layer counter of a span this workload never calls reads 0
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    record = {k: res[k] for k in ("workload", "seed", "traced", "failures", "passes",
                                  "samples", "input_digest")}
    n = res["samples"]
    record.update(sample_counts={"setup_s": 1, "first_pass_s": 1,
                                 "job_s": len(n["pass_ms"]), "commit_ms_p50": len(n["commit_ms"]),
                                 "retained_heap_mb": 1})
    record.update(seconds=args.seconds, jvm_s=jvm_s, heap=f"-Xms{HEAP} -Xmx{HEAP} -XX:+AlwaysPreTouch",
                  heap_max_mb=res["heap_max_mb"], cpu_probe_ms=[probe_before, probe_after],
                  cpu_steal_share=steal,
                  missing=sorted(m["name"] for m in declared if m["name"] not in source),
                  extra=sorted(k for k in source if k not in metrics))
    print(json.dumps({"record": record}))
    for f in res["failures"]:
        print(f"etlbench: check failed: {f}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] >= 1,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
