#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark from source,
launches one benchmark JVM for one workload and seed, and prints the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}: every end-to-end metric
of BENCHMARK.json with --trace 0, every per-layer metric with --trace 1. The
exit code is 0 only when every output check passed.

Maintenance options (not used by a benchmark run):
    --record-digests 1   rewrite perfbench/digests.json from this run's
                         analytics_mix results (after tools/check.py passes)
    --corrupt 1          falsify one expected result, to show that the checks fail

Build: scalac from the Spark distribution compiles src/main/scala and
perfbench/src into .bench_build/, keyed by a hash of the sources. Fixtures,
Spark scratch space and traces go to .bench_work/. Nothing is written outside
the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("tile_upload_wan", "tile_upload_lan", "analytics_mix")
DEADLINE_S = 170  # the whole run, build excluded


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


CHILDREN = []


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH. They include scala-compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def start(cmd, **kw):
    """Popen that a SIGTERM or SIGINT of this script also stops."""
    p = subprocess.Popen(cmd, **kw)
    CHILDREN.append(p)
    return p


def stop(signum, _frame):
    # os-level kill and reap: the interrupted main thread may hold the
    # Popen lock that p.wait() would need
    for p in CHILDREN:
        try:
            os.kill(p.pid, signal.SIGKILL)
            os.waitpid(p.pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: src/main/scala not found; run from the root of a checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    resources = os.path.join(ROOT, "src", "main", "resources")
    res = sorted(p for p in glob.glob(os.path.join(resources, "**", "*"), recursive=True) if os.path.isfile(p))
    return files, resources, res


def build(jars):
    """Compile the engine and the benchmark unless the sources are unchanged."""
    files, resources, res = sources()
    h = hashlib.sha256()
    for p in files + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(files)} Scala sources")
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "classes.tmp")
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", jars + "/*"] + files) + "\n")
    t0 = time.time()
    scalac = start(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars + "/*",
         "scala.tools.nsc.Main", "@" + argfile],
        stdout=sys.stderr)
    if scalac.wait() != 0:
        raise SystemExit(f"perfbench: compilation failed (exit {scalac.returncode})")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def jvm_flags(heap_mb):
    """The JVM flags of build.sbt's javaOptions (add-opens list and every
    literal -X/-D option), with the heap sized from the host's memory and cores."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    start = sbt.index("val jdk17AddOpens = Seq(")
    block = sbt[start:sbt.index(").flatMap", start)]
    opens = []
    for line in block.splitlines()[1:]:
        opens += [p.strip().strip('"') for p in line.split(",") if p.strip().startswith('"')]
    flags = []
    for p in opens:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    opts = sbt[sbt.index("javaOptions ++="):]
    literal = []
    for line in opts.splitlines():
        code = line.split("//")[0].strip()
        if code.startswith('"-X') or code.startswith('"-D'):
            literal.append(code.rstrip(",").strip('"'))
    if not opens or not literal:
        raise SystemExit("perfbench: could not read the JVM flags from build.sbt")
    return flags + literal + [f"-Xmx{heap_mb}m"]


def heap_mb(cores):
    """Half of MemTotal at most, 1 GiB per core, 1 GiB at least."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(total_kb // 2048, cores * 1024))


def calibrate():
    """A fixed CPU-bound loop, run pinned to each CPU this process may use
    (the JVM uses all of them): the mean over CPUs of the best of three,
    in milliseconds."""
    cpus = os.sched_getaffinity(0)
    per_cpu = []
    try:
        for cpu in sorted(cpus):
            os.sched_setaffinity(0, {cpu})
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                x = 0
                for i in range(200000):
                    x = (x * 31 + i) & 0xFFFFFFFF
                best = min(best, (time.perf_counter() - t0) * 1e3)
            per_cpu.append(best)
    finally:
        os.sched_setaffinity(0, cpus)
    return sum(per_cpu) / len(per_cpu)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    calib0 = calibrate()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes = build(jars)

    cores = len(os.sched_getaffinity(0))
    heap = heap_mb(cores)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    launch_ms = int(time.time() * 1000)
    cmd = (["java"] + jvm_flags(heap) +
           ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--launch-ms", str(launch_ms),
            "--work", WORK, "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--digests", os.path.join(BENCH, "digests.json"),
            "--record", str(a.record_digests), "--corrupt", str(a.corrupt)])
    proc = start(cmd, stdout=subprocess.PIPE, text=True, cwd=WORK)
    try:
        stdout, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: benchmark JVM exceeded {DEADLINE_S} s")
    lines = [l for l in stdout.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: benchmark JVM exited {proc.returncode} without a result")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    calib1 = calibrate()

    bound = min(m["bound"] for m in spec["end_to_end"] if m["name"] != "setup_s")
    drift = calib1 / calib0 - 1
    if abs(drift) > bound:
        log(f"WARNING: calibration drifted {drift:+.1%} (start {calib0:.2f} ms, end {calib1:.2f} ms), "
            f"beyond the {bound:.0%} bound: this run shared the machine and its numbers are suspect")
    layer = dict(res["layer"])
    layer.update({"env.calib_ms": calib0, "env.calib_drift": drift,
                  "env.nproc": float(cores), "env.heap_mb": float(heap)})
    wanted, got = (spec["per_layer"], layer) if a.trace else (spec["end_to_end"], res["e2e"])
    missing = [m["name"] for m in wanted if got.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"perfbench: run produced no value for {', '.join(missing)}")
    env = {"workload": a.workload, "seed": a.seed, "nproc": cores, "heap_mb": heap,
           "calib_ms": [round(calib0, 3), round(calib1, 3)], **res["info"]}
    print(json.dumps({"env": env}))
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    main()
