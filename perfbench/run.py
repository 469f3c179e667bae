"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload ann-serve --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. It compiles graft's main sources and
the harness under perfbench/scala with the Scala compiler shipped in Spark's
jars (no sbt, no network), generates the workload's inputs from the seed,
runs the harness in a fresh JVM, checks every answer against ground truth
computed without graft, and prints the result as the last line of stdout.
With `--trace 1` the run records spans and per-layer metrics instead of the
end-to-end ones.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("ann-serve", "ann-upsert", "dedup")
E2E_UNITS = {"setup_s": "s", "build_s": "s", "op_p50_ms": "ms", "work_per_s": "1/s",
             "state_mb": "MB"}
JVM_BUDGET_S = 150
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """Spark's jars: `$SPARK_HOME/jars`, else the directory build.sbt names
    as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not found:
            raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
        jar_dir = found.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler in {jar_dir}")
    return jars


def tree_hash(*roots):
    h = hashlib.sha256()
    for root in roots:
        for path in sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, sources, out):
    """Compile `sources` into the jar `out`."""
    tmp = out + ".classes"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(("scala-compiler", "scala-library",
                                                                   "scala-reflect"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "-classpath", ":".join(classpath + jars)] + sources
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit(f"perfbench: compiling {len(sources)} sources into {out} failed")
    # A jar rather than a class directory, so the classes can go into the
    # JVM's class-data-sharing archive.
    with zipfile.ZipFile(out + ".tmp", "w") as z:
        for path in sorted(glob.glob(os.path.join(tmp, "**", "*.class"), recursive=True)):
            z.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp)
    os.replace(out + ".tmp", out)


def build(root, build_dir):
    """Compile graft's main sources, then the harness against them. Each
    output directory is keyed by a hash of its sources and reused."""
    src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(src):
        raise SystemExit("perfbench: run from the root of a graft checkout (src/main/scala missing)")
    jars = spark_jars(root)
    graft_out = os.path.join(build_dir, "graft-" + tree_hash(src) + ".jar")
    if not os.path.isfile(graft_out):
        log(f"compiling graft into {graft_out}")
        scalac(jars, [], sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True)), graft_out)
    harness = os.path.join(HERE, "scala")
    bench_out = os.path.join(build_dir, "harness-" + tree_hash(src, harness) + ".jar")
    if not os.path.isfile(bench_out):
        log(f"compiling the harness into {bench_out}")
        scalac(jars, [graft_out], sorted(glob.glob(os.path.join(harness, "*.scala"))), bench_out)
    return [bench_out, graft_out] + jars


def heap():
    """JVM heap from MemTotal, as the project's test command sizes it:
    half of memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def run_jvm(classpath, workload, run_dir, seconds, trace, cpus):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Class-data sharing: the first run of a build dumps the classes it
    # loaded into an archive beside the jars; later runs map it instead of
    # loading and verifying Spark's classes again.
    archive = classpath[0][:-len(".jar")] + ".jsa"
    dump = archive + f".{os.getpid()}"
    share = (f"-XX:SharedArchiveFile={archive}" if os.path.isfile(archive)
             else f"-XX:ArchiveClassesAtExit={dump}")
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData", share, "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath), "graftbench.Main", "--workload", workload,
            "--dir", run_dir, "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(cpus)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_BUDGET_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        if os.path.exists(dump):
            os.remove(dump)
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    if os.path.exists(dump):
        os.replace(dump, archive)
    with open(os.path.join(run_dir, "jvm.log")) as f:
        for line in f:
            if line.startswith("[graft-bench]"):
                sys.stderr.write(line)
    with open(os.path.join(run_dir, "out", "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    classpath = build(root, build_dir)
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, ".scratch", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        gen.generate(a.workload, a.seed, run_dir)
        log(f"{a.workload}: inputs for seed {a.seed} in {time.time() - t0:.1f} s")
        t1 = time.time()
        res = run_jvm(classpath, a.workload, run_dir, a.seconds, a.trace, cpus)
        t2 = time.time()
        problems = checks.check(a.workload, run_dir)
        log(f"{a.workload}: harness {t2 - t1:.1f} s, checks {time.time() - t2:.1f} s")
        for p in problems:
            log(f"check failed: {p}")
        info = " ".join(f"{k}={v:.6g}" for k, v in res["info"].items())
        print(f"{a.workload}: attempted={res['attempted']} failed={res['failed']} {info}")
        if a.trace:
            with open(os.path.join(run_dir, "out", "trace.json")) as f:
                trace = json.load(f)
            metrics = layers.per_layer(a.workload, trace, res)
            out_dir = os.path.join(HERE, "out")
            os.makedirs(out_dir, exist_ok=True)
            layers.write(os.path.join(out_dir, f"{a.workload}.layers.json"), a.workload, a.seed,
                         metrics, trace, res)
        else:
            values = dict(res["metrics"], setup_s=statistics.median(res["setup_s"]))
            metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
        for name, m in metrics.items():
            print(f"{a.workload}: {name} = {m['value']:.6g} {m['unit']}")
        print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
