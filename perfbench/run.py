#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload battery --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check

Run from the repository root. The first run builds the library from
src/main with the Scala compiler shipped in Spark's jars, builds the
harness in perfbench/src against it, and generates the battery's input
tables; all of it lands in .bench_build/ and is reused while the sources
are unchanged. Each run then starts one JVM at local[<cores>] that runs the
workload (see perfbench/README.md) and prints, as the last line of stdout,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with --trace 1
its per_layer list. Spans and an environment label for every run are
written to .bench_build/traces/.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The jars of the Spark distribution in SPARK_HOME, else of the first
    spark-submit on PATH that sits in one."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        if os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("no Spark distribution found: set SPARK_HOME")


SPARK_JARS = spark_jars()
# scale name -> table scale factor for the battery's generated inputs
TABLE_SCALE = {"bench": 0.01, "toy": 0.001}
# how far a unit's stage intervals may overrun it, as GraftBench.SplitToleranceMs
SPLIT_TOLERANCE_MS = 50
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def jvm_timeout_s(seconds, trace):
    """Set-up, the cold pass and the batch-mode runs take a fixed time.
    Timed passes run for `seconds`, and a traced run has three such rounds
    (timed, traced, untraced); the factor 4 leaves room for the pass that
    overruns its round and for a slow host."""
    return 130 + 4 * seconds * (3 if trace else 1)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(d, suffix=""):
    return [p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
            if os.path.isfile(p) and p.endswith(suffix)]


def scalac(out, sources, classpath):
    jars = {n: glob.glob(os.path.join(SPARK_JARS, f"scala-{n}-2.*.jar")) for n in
            ("compiler", "library", "reflect")}
    if not all(jars.values()):
        raise SystemExit(f"no Scala compiler in {SPARK_JARS}")
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(j[0] for j in jars.values()),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath,
           "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("compile failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compiles the library and the harness unless their sources are unchanged."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise SystemExit(f"no library sources at {main_src}")
    lib_sources = files_under(main_src, ".scala")
    bench_sources = files_under(os.path.join(HERE, "src"), ".scala")
    lib_stamp = tree_hash(lib_sources + files_under(resources))
    bench_stamp = lib_stamp + tree_hash(bench_sources)
    lib_out = os.path.join(BUILD, "classes", "lib")
    bench_out = os.path.join(BUILD, "classes", "bench")
    for out, stamp, sources, cp in (
            (lib_out, lib_stamp, lib_sources, os.path.join(SPARK_JARS, "*")),
            (bench_out, bench_stamp, bench_sources,
             lib_out + ":" + os.path.join(SPARK_JARS, "*"))):
        stamp_file = out + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        log(f"compiling {len(sources)} sources into {os.path.relpath(out, ROOT)}")
        t0 = time.time()
        scalac(out, sources, cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"compiled in {time.time() - t0:.1f}s")
    return [bench_out, lib_out, resources, os.path.join(SPARK_JARS, "*")], lib_stamp


def tables(scale):
    """Generates the battery's input tables once per scale and generator."""
    gen = os.path.join(HERE, "gen_tables.py")
    out = os.path.join(BUILD, "data", scale)
    stamp = tree_hash([gen]) + str(TABLE_SCALE[scale])
    stamp_file = out + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out, str(TABLE_SCALE[scale])], check=True)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return out


def commit_label(lib_stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + lib_stamp[:12]


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, workload, seed, seconds, trace, scale, pinned, commit):
    """Runs one workload in a fresh JVM; returns its raw result object."""
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=_mkdir(os.path.join(BUILD, "work")))
    tag = f"{workload}-seed{seed}-trace{trace}-{scale}"
    result = os.path.join(work, "result.json")
    tmp = _mkdir(os.path.join(work, "tmp"))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", ":".join(classpath),
            "graft.perfbench.GraftBench",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--scale", scale,
            "--data", tables(scale) if workload == "battery" else "-",
            "--work", work, "--pinned", pinned, "--cpus", str(cores()),
            "--result", result, "--spans", os.path.join(BUILD, "traces", tag + ".jsonl"),
            "--commit", commit])
    logfile = os.path.join(BUILD, "logs", tag + ".log")
    try:
        with open(logfile, "w") as err:
            # Spark would put its scratch space in SPARK_LOCAL_DIRS over
            # spark.local.dir; keep it inside the work directory
            env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
            proc = subprocess.Popen(cmd, stdout=err, stderr=err, cwd=work, env=env)

            def stop(signum, _frame):
                proc.kill()
                proc.wait()
                raise SystemExit(f"{tag} stopped by signal {signum}")
            signal.signal(signal.SIGTERM, stop)
            signal.signal(signal.SIGINT, stop)
            timeout = jvm_timeout_s(seconds, trace)
            try:
                code = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"{tag} exceeded {timeout}s; log in {logfile}")
        if code != 0 or not os.path.exists(result):
            with open(logfile) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"{tag} exited with {code}; log in {logfile}")
        with open(logfile) as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        with open(result) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _mkdir(d):
    os.makedirs(d, exist_ok=True)
    return d


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def with_units(raw, declared):
    """The result line: exactly the declared metrics, each with its unit."""
    missing = [m["name"] for m in declared if m["name"] not in raw["metrics"]]
    if missing:
        raise SystemExit(f"harness did not report {missing}")
    return {"correct": raw["correct"], "attempted": raw["attempted"], "failed": raw["failed"],
            "metrics": {m["name"]: {"value": raw["metrics"][m["name"]], "unit": m["unit"]}
                        for m in declared}}


def self_check(classpath, commit):
    """Toy-scale check of the harness itself: every declared metric is
    reported, outputs match their pins, and a wrong pin is caught."""
    spec = load_spec()
    pinned = os.path.join(HERE, "pinned.json")
    for w in (w["name"] for w in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            raw = run_jvm(classpath, w, 1, 1, trace, "toy", pinned, commit)
            names = {m["name"] for m in declared}
            assert set(raw["metrics"]) == names, (
                w, trace, sorted(names ^ set(raw["metrics"])))
            assert raw["correct"] and raw["failed"] == 0, (w, trace, raw)
            if trace:
                # the layer split adds up: build + stage union + gap = wall
                assert raw["metrics"]["scheduler.split_err_ms"] <= SPLIT_TOLERANCE_MS, (w, raw)
            log(f"self-check {w} trace={trace}: {raw['attempted']} attempted, all correct")
        with open(pinned) as f:
            pins = json.load(f)
        # keep the row count and break only the digest, so the run must
        # catch a wrong result that has the right number of rows
        first = sorted(k for k in pins["toy"][w] if k != "input_rows")[0]
        rows = pins["toy"][w][first].split(":")[0]
        pins["toy"][w][first] = f"{rows}:{'0' * 16}"
        wrong = os.path.join(BUILD, "pinned-wrong.json")
        with open(wrong, "w") as f:
            json.dump(pins, f)
        raw = run_jvm(classpath, w, 1, 1, 0, "toy", wrong, commit)
        assert not raw["correct"] and raw["failed"] >= 1, (w, raw)
        log(f"self-check {w}: a wrong pin for {first} fails the run ({raw['failed']} failed)")
    log("self-check passed")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(TABLE_SCALE), default="bench")
    ap.add_argument("--self-check", action="store_true")
    a = ap.parse_args()
    spec = load_spec()
    workloads = [w["name"] for w in spec["workloads"]]
    if not a.self_check and a.workload not in workloads:
        raise SystemExit(f"--workload must be one of {workloads}")
    os.makedirs(BUILD, exist_ok=True)
    classpath, lib_stamp = build()
    commit = commit_label(lib_stamp)
    if a.self_check:
        self_check(classpath, commit)
        return
    raw = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, a.scale,
                  os.path.join(HERE, "pinned.json"), commit)
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    print(json.dumps(with_units(raw, declared)))


if __name__ == "__main__":
    main()
