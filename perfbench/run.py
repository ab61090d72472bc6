#!/usr/bin/env python3
"""Build graft and the benchmark from source, run one workload, print its result.

    python3 perfbench/run.py --workload large --seed 1 --seconds 30 --trace 0

Run from the root of the repository. The first run compiles src/main/scala
and perfbench/src with the Scala compiler that ships in the Spark jars
(no sbt, no network) into .bench_build/; later runs reuse the classes
while the sources are unchanged. One JVM runs the workload; its last
standard-output line is the JSON result, printed here after it is checked
against BENCHMARK.json. Spark's log goes to .bench_out/logs/.
"""
import argparse
import hashlib
import json
import os
import pathlib
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
BUILD = ROOT / ".bench_build" / "perfbench"
OUT = ROOT / ".bench_out"
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit; the same list the
# repository's build passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    if not PROGRAM_SRC.is_dir():
        fail(f"no program sources at {PROGRAM_SRC.relative_to(ROOT)}; "
             "run from the repository root")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        fail("no Scala sources found")
    return files


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.is_file() else "")
        jars = pathlib.Path(m.group(1)) if m else None
    if jars is None or not jars.is_dir():
        fail("Spark jars not found: set SPARK_HOME")
    return jars


def classpath(*dirs):
    return os.pathsep.join([str(d) for d in dirs] + [str(spark_jars() / "*")])


def build():
    """Compile program and benchmark together unless the classes are current."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / "stamp"
    classes = BUILD / "classes"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    classes.mkdir(parents=True)
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", classpath()] + [str(f) for f in files]
    if subprocess.run(cmd).returncode != 0:
        shutil.rmtree(BUILD, ignore_errors=True)
        fail("compilation failed", 1)
    stamp.write_text(digest.hexdigest())
    return classes


def expected_metrics(trace):
    spec = ROOT / "BENCHMARK.json"
    if not spec.is_file():
        return None
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in json.loads(spec.read_text())[key]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    scratch = OUT / "spark" / tag
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    (OUT / "logs").mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    # ParallelGC: G1's concurrent threads competed with the four Spark task
    # threads, and in alternating runs on the small tier ParallelGC roughly
    # halved the run-to-run range of most timings. No perf-data file, so
    # the JVM writes nothing outside the checkout.
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={scratch / 'local'}",
            f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
            f"-Djava.io.tmpdir={scratch / 'tmp'}",
            "-cp", classpath(classes), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(OUT / "traces"),
            "--launch-ms", str(int(time.time() * 1000))])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log_path = OUT / "logs" / f"{tag}.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                text=True, cwd=scratch)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log_path.relative_to(ROOT)}", 1)
    shutil.rmtree(scratch, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        tail = log_path.read_text().splitlines()[-15:]
        print("\n".join(tail), file=sys.stderr)
        if lines and proc.returncode == 1:
            print(lines[-1])  # the result with "correct": false
        fail(f"workload exited with {proc.returncode}; log: {log_path.relative_to(ROOT)}", 1)
    result = json.loads(lines[-1])
    want = expected_metrics(args.trace)
    if want is not None:
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            fail(f"metrics differ from BENCHMARK.json: printed {sorted(got.items())}, "
                 f"declared {sorted(want.items())}", 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
