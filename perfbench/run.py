#!/usr/bin/env python3
"""Build and run the graft benchmark (see perfbench/README.md).

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload crossdb_sparse --seed 1 --seconds 12 --trace 0 [--smoke]

The script compiles the repository's `src/main/scala` and the benchmark's
own `perfbench/src` with the Scala compiler that ships in the Spark
distribution (`$SPARK_HOME/jars`, or the one `spark-submit` on PATH belongs
to), caches the classes under `$CARGO_TARGET_DIR` (default `.bench_build`)
keyed by a hash of the sources, then runs one JVM. All scratch state of a
run (parquet inputs, layouts, Derby databases, Spark local dirs, derby.log)
lives in one directory under the build dir and is deleted at exit.

The last line of standard output is the result object
`{"correct", "attempted", "failed", "metrics"}`.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
# one run must end well inside the 180 s a run is allowed
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark distribution found: set SPARK_HOME or put spark-submit on PATH")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        fail(f"{jars} holds no scala-compiler jar")
    return jars


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(name, sources, classpath, out_root, jars):
    """Compile `sources` into out_root/<name>-<hash>; reuse it when present."""
    stamp = digest(sources, classpath)[:16]
    target = os.path.join(out_root, f"{name}-{stamp}")
    if os.path.isdir(target):
        return target
    tmp = tempfile.mkdtemp(prefix=f".{name}-", dir=out_root)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    print(f"perfbench: compiling {len(sources)} {name} sources", file=sys.stderr)
    r = subprocess.run(cmd + sources, stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail(f"compiling {name} failed")
    os.rename(tmp, target)
    return target


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001-sized) for the benchmark's own test")
    args = ap.parse_args()

    root = os.getcwd()
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail(f"run from the root of a checkout: {main_src} is missing")
    jars = spark_jars()
    build = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out_root = os.path.join(build, "perfbench")
    os.makedirs(out_root, exist_ok=True)

    main_cls = compile_into("main", scala_sources(main_src), "", out_root, jars)
    bench_cls = compile_into("bench", scala_sources(os.path.join(BENCH_DIR, "src")),
                             main_cls, out_root, jars)

    scratch = tempfile.mkdtemp(prefix="run-", dir=out_root)
    trace_out = os.path.join(out_root, "traces",
                             f"{args.workload}-seed{args.seed}.json")
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += [
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
        f"-Dderby.system.home={os.path.join(scratch, 'derby')}",
        f"-Dderby.stream.error.file={os.path.join(scratch, 'derby.log')}",
        f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
        "-cp", os.pathsep.join([bench_cls, main_cls, os.path.join(jars, "*")]),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--scale", "smoke" if args.smoke else "full",
        "--scratch", scratch, "--trace-out", trace_out,
        "--rev", source_rev(root),
    ]
    os.makedirs(os.path.join(scratch, "tmp"))
    proc = subprocess.Popen(java, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, killed", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(code)


def source_rev(root):
    """The git revision when the checkout is a repository, else a hash of
    the program sources, so every result names the code it measured."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "--short=12", "HEAD"],
                           cwd=root, capture_output=True, text=True, timeout=10)
        out = r.stdout.split()
        # a checkout inside some other repository must not take its revision
        if r.returncode == 0 and len(out) == 2 and os.path.samefile(out[0], root):
            return out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + digest(scala_sources(os.path.join(root, "src", "main", "scala")))[:12]


if __name__ == "__main__":
    main()
