"""graft benchmark launcher.

    python3 perfbench/run.py --workload qc_plan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. It compiles graft (`src/main/scala`) and the
benchmark's own Scala sources with the Scala compiler that ships with
Spark (`$SPARK_HOME/jars`), generates the workload's inputs from the seed,
runs the JVM side once and prints every metric by name with its unit. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}},
with the end-to-end metrics under --trace 0 and the per-layer metrics
under --trace 1. Build output, inputs and logs go to .bench_build/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
JVM_TIMEOUT_S = 170
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn256m"]
MAIN = "graftbench.Main"
# Spark 4 on JDK 17 outside spark-submit (same list as the sbt build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

sys.path.insert(0, HERE)
import gen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    files = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(jars):
    """Compile graft and the benchmark into one classes directory; skipped
    when neither the sources nor the Spark jars changed."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}; run from a graft checkout")
    files = sources()
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(jars, "*.jar"))):
        h.update(f.encode())
        if f.endswith((".scala", ".java")):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{p}-2.13.*.jar"))[0]
                for p in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*")] + files
    t0 = time.time()
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_jvm(classes, jars, workload, seed, seconds, trace, extra=()):
    """Generate inputs, run the JVM side once, return its result dict."""
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}-{workload}-{seed}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(out)
    logs = os.path.join(BUILD, "logs")
    traces = os.path.join(BUILD, "traces")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    try:
        gen.generate(workload, seed, data)
        cp = [classes] + ([PROGRAM_RES] if os.path.isdir(PROGRAM_RES) else []) + [os.path.join(jars, "*")]
        cmd = (["java"] + HEAP + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
               + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
               + ["-cp", os.pathsep.join(cp), MAIN,
                  "--workload", workload, "--data", data, "--out", out,
                  "--plans", os.path.join(HERE, "plans"), "--seconds", str(seconds),
                  "--trace", "1" if trace else "0",
                  "--spans", os.path.join(traces, f"{workload}-seed{seed}.jsonl")]
               + list(extra))
        log = os.path.join(logs, f"{workload}-seed{seed}-trace{int(trace)}.log")
        with open(log, "w") as err:
            launch_ms = int(time.time() * 1000)
            p = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)], cwd=run_dir,
                                 stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"{workload} timed out after {JVM_TIMEOUT_S} s (log: {log})")
        lines = [l for l in stdout.splitlines() if l.startswith("{")]
        if p.returncode != 0 or not lines:
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"{workload} exited with {p.returncode} (log: {log})")
        return json.loads(lines[-1])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def report(workload, res, trace):
    e2e, layers = metric_specs()
    chosen = layers if trace else e2e
    source = res["per_layer"] if trace else res["end_to_end"]
    for m in e2e:
        v = res["end_to_end"][m["name"]]
        note = f" (n={res['op_samples']} ops)" if m["name"] == "op_p50_s" else ""
        print(f"{workload} {m['name']} = {v:.6g} {m['unit']}{note}")
    print(f"{workload} op latencies (s): warm-up "
          + " ".join(f"{x:.3f}" for x in res["warmup_seconds"]) + " | timed "
          + " ".join(f"{x:.3f}" for x in res["op_seconds"]))
    print(f"{workload} failed_frac = {res['end_to_end']['failed_frac']:.6g} ratio "
          f"({res['failed']} of {res['attempted']} ops failed)")
    if trace:
        for m in layers:
            print(f"{workload} {m['name']} = {source[m['name']]:.6g} {m['unit']}")
    return {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in chosen}}


def selftest(classes, jars, seed):
    """Corrupted outputs must count as failed; a fixed delay injected into
    the `tables.open` wrapper must show in that layer's time and in
    op_p50_s, and in no other layer's time. The delay is large next to
    the run-to-run spread of the other layers' times, and each run times
    two rounds, so the control does not hinge on how steady the host is."""
    ok = True
    bad = run_jvm(classes, jars, "small_plans", seed, 1, False, ["--corrupt"])
    print(f"corrupted outputs: {bad['failed']} of {bad['attempted']} ops counted as failed")
    ok &= bad["failed"] == bad["attempted"] and not bad["correct"]

    delay_ms, seconds = 500, 40  # two timed rounds of small_plans
    base = run_jvm(classes, jars, "small_plans", seed, seconds, True)
    slow = run_jvm(classes, jars, "small_plans", seed, seconds, True,
                   ["--delay", f"tables.open:{delay_ms}"])
    for r in (base, slow):
        ok &= r["correct"]
    opens = base["per_layer"]["tables.opens"]
    want = delay_ms * opens
    got = slow["per_layer"]["tables.open_ms"] - base["per_layer"]["tables.open_ms"]
    p50 = (slow["end_to_end"]["op_p50_s"] - base["end_to_end"]["op_p50_s"]) * 1000
    print(f"tables.open_ms moved {got:+.1f} ms/op, op_p50_s moved {p50:+.1f} ms "
          f"(injected {want:.0f} ms/op)")
    ok &= abs(got - want) < 0.2 * want and p50 > 0.5 * want
    for name, v in sorted(base["per_layer"].items()):
        if name.endswith(("_ms", ".ms")) and name != "tables.open_ms":
            d = slow["per_layer"][name] - v
            moved = abs(d) > max(0.25 * want, 0.25 * v)
            print(f"  {name}: {v:.1f} -> {slow['per_layer'][name]:.1f} ms"
                  + ("  <-- moved" if moved else ""))
            ok &= not moved
    print("selftest", "PASS" if ok else "FAIL")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    classes = build(jars)
    if a.selftest:
        sys.exit(selftest(classes, jars, a.seed))
    res = run_jvm(classes, jars, a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(report(a.workload, res, bool(a.trace))))


if __name__ == "__main__":
    main()
