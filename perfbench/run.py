#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --write-benchmark-json

Builds the engine (src/main/scala) and the benchmark (perfbench/scala)
with the Scala compiler shipped in the Spark distribution, into
$CARGO_TARGET_DIR (default .bench_build), rebuilding only when a source
changed. Then it runs graft.perfbench.Main in one JVM, which prints the
run context, every metric by name with its unit, and, as its last line,
{"correct", "attempted", "failed", "metrics"}. The exit code is non-zero
on any failed or mismatched op, or when the program cannot be built.
Scratch files go to .bench_work/ and are removed after the run; a traced
run leaves its span artifact in .bench_work/trace/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# The benchmark's definition; --write-benchmark-json renders BENCHMARK.json.
SPEC = {
    "command": ["python3", "perfbench/run.py"],
    "paths": ["perfbench"],
    "run_seconds": 6,
    "workloads": [
        {"name": "stream-trending",
         "why": "open-loop speed layer: TrendingStream into the KV sink at 2k, 10k and a saturating event rate; "
                "state store, watermark and micro-batch floor"},
        {"name": "serving-mix",
         "why": "closed-loop dashboard reads through etl.Serving; tiny requests, so planning and job launch dominate"},
        {"name": "batch-cold-path",
         "why": "cold input-to-result: medallion, scoring, q179 job chain, q196 text, q207 shuffle, "
                "and a generation-store build/refresh/readback cycle"},
    ],
    "end_to_end": [
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
        {"name": "p50_ms", "unit": "ms", "better": "lower", "bound": 0.25},
        {"name": "throughput_per_s", "unit": "1/s", "better": "higher", "bound": 0.25},
    ],
    "per_layer": [
        {"name": "op.ms_mean", "unit": "ms", "better": "lower"},
        {"name": "op.self_ms_mean", "unit": "ms", "better": "lower"},
        {"name": "spark.jobs_per_op", "unit": "count", "better": "lower"},
        {"name": "spark.stages_per_op", "unit": "count", "better": "lower"},
        {"name": "spark.tasks_per_op", "unit": "count", "better": "lower"},
        {"name": "spark.job_ms_mean", "unit": "ms", "better": "lower"},
        {"name": "spark.driver_only_s", "unit": "s", "better": "lower"},
        {"name": "spark.core_busy_frac", "unit": "frac", "better": "higher"},
        {"name": "spark.shuffle_write_mb", "unit": "MB", "better": "lower"},
        {"name": "jvm.gc_s", "unit": "s", "better": "lower"},
        {"name": "jvm.heap_peak_mb", "unit": "MB", "better": "lower"},
    ],
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DRIVER_HEAP = "3g"
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Jars of $SPARK_HOME, else of the Spark installation whose
    spark-submit is on PATH, else of the pyspark package."""
    def jars_of(home):
        return sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
    jars = jars_of(os.environ.get("SPARK_HOME"))
    submit = shutil.which("spark-submit")
    if not jars and submit:
        jars = jars_of(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    if not jars:
        try:
            import pyspark
            jars = jars_of(os.path.dirname(pyspark.__file__))
        except ImportError:
            pass
    if not jars:
        sys.exit("[perfbench] no Spark jars found; set SPARK_HOME")
    return jars


def sources(*dirs, pattern="*.scala"):
    out = []
    for d in dirs:
        out += glob.glob(os.path.join(d, "**", pattern), recursive=True)
    return sorted(out)


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(name, srcs, out, classpath, resources, jars, build):
    """Compile `srcs` into `out` unless its stamp matches."""
    key = stamp(srcs + resources, ":".join(os.path.basename(j) for j in classpath))
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return
    log(f"building {name} ({len(srcs)} sources)")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(build, f"{name}.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", tmp, "-cp", os.pathsep.join(classpath)] + srcs))
    rc = subprocess.call(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx1g", "-cp", os.pathsep.join(compiler),
                          "scala.tools.nsc.Main", "@" + argfile], stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"[perfbench] {name} failed to compile")
    for res in resources:
        rel = os.path.relpath(res, os.path.join(ROOT, "src", "main", "resources"))
        os.makedirs(os.path.dirname(os.path.join(tmp, rel)), exist_ok=True)
        shutil.copy(res, os.path.join(tmp, rel))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(key)


def build():
    main_srcs = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not main_srcs:
        sys.exit("[perfbench] no program sources under src/main/scala")
    resources = [f for f in sources(os.path.join(ROOT, "src", "main", "resources"), pattern="*")
                 if os.path.isfile(f)]
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    out = os.path.join(ROOT, out) if not os.path.isabs(out) else out
    os.makedirs(out, exist_ok=True)
    jars = spark_jars()
    main_dir = os.path.join(out, "main")
    bench_dir = os.path.join(out, "bench")
    with open(os.path.join(out, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one builder at a time per checkout
        compile_scala("main", main_srcs, main_dir, jars, resources, jars, out)
        compile_scala("bench", sources(os.path.join(BENCH, "scala")), bench_dir,
                      [main_dir] + jars, [], jars, out)
    return [bench_dir, main_dir] + jars


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--write-benchmark-json", action="store_true",
                    help="write BENCHMARK.json from this file's SPEC and exit")
    ap.add_argument("--record-expected", metavar="DIR",
                    help="write the checked batch/lifecycle results to DIR and print their hashes")
    a = ap.parse_args()
    if a.write_benchmark_json:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as fh:
            json.dump(SPEC, fh, indent=2)
            fh.write("\n")
        return 0
    names = [w["name"] for w in SPEC["workloads"]]
    if not a.record_expected and a.workload not in names:
        ap.error(f"--workload must be one of {names}")

    cp = build()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory
    cmd = ["java", "-XX:-UsePerfData", *opens, f"-Xmx{DRIVER_HEAP}", "-Xss8m",
           f"-Djava.io.tmpdir={work}/tmp0",
           "-Djdk.lang.Process.launchMechanism=vfork",
           "-cp", os.pathsep.join(cp), "graft.perfbench.Main",
           "--bench-dir", BENCH, "--work-dir", work,
           "--trace-dir", os.path.join(ROOT, ".bench_work", "trace")]
    if a.record_expected:
        cmd += ["--record-expected", os.path.abspath(a.record_expected)]
    else:
        report = SPEC["per_layer" if a.trace == "1" else "end_to_end"]
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace,
                "--report", ",".join(m["name"] for m in report)]
    os.makedirs(os.path.join(work, "tmp0"))
    # a SIGTERM to this process must still stop the JVM and clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep both inside
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S if not a.record_expected else None)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopping it")
        proc.kill()
        proc.wait()
        rc = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
