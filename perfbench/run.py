#!/usr/bin/env python3
"""Builds graft and the benchmark harness from source, then runs one workload.

    python3 perfbench/run.py --workload commit_chain --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a graft checkout. The build compiles `src/main/scala`
and `perfbench/src` with the Scala compiler that ships in the Spark jars
directory (`$SPARK_HOME/jars`, or the first Spark install on the PATH) into
the build directory (`$CARGO_TARGET_DIR`, default `.bench_build`), and reuses the
classes while the sources are unchanged. All run-time files go under
`.bench_work/` and are removed when the run ends. The last line of standard
output is the run's JSON result; the exit code is non-zero when the build
fails, the run times out or any correctness check fails.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
WORKLOADS = ("commit_chain", "scan_mix", "curate_corpus")
RUN_TIMEOUT_S = 170
JVM_ADD_OPENS = [
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


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_stage(jars, out, srcs, classpath, extra_digest=""):
    """Compiles `srcs` into `out` unless its stamp matches their digest."""
    stamp = os.path.join(out, ".stamp")
    want = digest(srcs, extra_digest)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return want
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    scalac_cp = os.pathsep.join(
        os.path.join(jars, f"scala-{m}-2.13.17.jar")
        for m in ("compiler", "library", "reflect"))
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", scalac_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath, "@" + args_file]
    print(f"perfbench: compiling {len(srcs)} files into {os.path.relpath(out, ROOT)}",
          file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("compilation failed", 3)
    with open(stamp, "w") as f:
        f.write(want)
    return want


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first install on
    the PATH whose jars include the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        jars = os.path.join(os.path.dirname(os.path.realpath(d)), "jars")
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and glob.glob(os.path.join(jars, "scala-compiler-2.13.*.jar"))):
            return jars
    fail("no Spark install found: set SPARK_HOME")


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(ROOT, "perfbench", "src")
    if not sources(main_src):
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    if not sources(bench_src):
        fail("no harness sources under perfbench/src")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-2.13.*.jar")):
        fail(f"no Scala compiler among the Spark jars in {jars}")
    spark_cp = os.path.join(jars, "*")
    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out = os.path.join(ROOT, out) if not os.path.isabs(out) else out
    main_out = os.path.join(out, "graft-classes")
    bench_out = os.path.join(out, "perfbench-classes")
    main_digest = compile_stage(jars, main_out, sources(main_src), spark_cp)
    compile_stage(jars, bench_out, sources(bench_src),
                  os.pathsep.join([main_out, spark_cp]), main_digest)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([bench_out, main_out, resources, spark_cp])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        fail("--workload is required")
    classpath = build()
    work = os.path.join(ROOT, ".bench_work",
                        "self-test" if a.self_test else f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the repo's run-JVM settings: throughput GC and a code cache that holds
    # a long session's generated classes
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + [x for p in JVM_ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath])
    if a.self_test:
        cmd += ["graftbench.SelfTest", "--work", work]
    else:
        cmd += ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    proc = subprocess.Popen(cmd)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = 124
        print("perfbench: run timed out", file=sys.stderr)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    sys.exit(code)


if __name__ == "__main__":
    main()
