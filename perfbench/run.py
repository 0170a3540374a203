#!/usr/bin/env python3
"""Build and run the yairsspark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --unit-tests

The benchmark is a Scala program (perfbench/src) compiled together with the
repository's own sources (src/main/scala) by the Scala compiler that ships
with Spark. The build is cached under
perfbench/out, keyed by a hash of every source file, so only the first run
in a checkout compiles. Every file a run writes stays under perfbench/out
and is removed when the run ends, except the span dump of traced runs.
"""
import argparse
import hashlib
import os
import pathlib
import re
import shutil
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
RESOURCES = ROOT / "src" / "main" / "resources"
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text()) if sbt.is_file() else None
        if not m:
            fail("set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = pathlib.Path(m.group(1))
    if not list(jars.glob("scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def scala_files(*dirs):
    files = []
    for d in dirs:
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def main_sources():
    src = ROOT / "src" / "main" / "scala"
    if not src.is_dir():
        fail(f"program sources not found under {src}")
    return scala_files(src, HERE / "src" / "main" / "scala")


def compile_cached(name, files, classpath):
    """Compile `files` into OUT/name unless the same sources built it."""
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    dest = OUT / name
    stamp_file = OUT / f"{name}.stamp"
    if dest.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return dest
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    print(f"perfbench: compiling {len(files)} files into {dest}", file=sys.stderr)
    if subprocess.run(cmd + [str(f) for f in files], stdout=sys.stderr).returncode:
        fail("compilation failed")
    tmp.rename(dest)
    stamp_file.write_text(stamp)
    return dest


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_benchmark(args, jars):
    classes = compile_cached("classes", main_sources(), f"{jars}/*")
    work = OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # only a ceiling on the heap, so the peak RSS follows what the program
    # touches rather than a preset heap size
    cmd = [java(), "-Xmx3g",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{classes}:{RESOURCES}:{jars}/*", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work / "data")]
    if args.trace:
        cmd += ["--spans", str(OUT / f"spans-{args.workload}-{args.seed}.jsonl")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_GRAFT_LOCAL="1")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=str(work),
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"no result line (exit code {proc.returncode})")
    sys.stderr.writelines(l + "\n" for l in lines[:-1])
    print(lines[-1])
    return proc.returncode


def coursier_jar(pattern):
    cache = pathlib.Path(os.environ.get(
        "COURSIER_CACHE", pathlib.Path.home() / ".cache" / "coursier" / "v1"))
    found = sorted(cache.rglob(pattern))
    if not found:
        fail(f"{pattern} not in the coursier cache {cache}")
    return str(found[0])


def unit_tests(jars):
    classes = compile_cached("classes", main_sources(), f"{jars}/*")
    test_cp = ":".join(coursier_jar(p) for p in [
        "scalatest-core_2.13-3.2.19.jar", "scalatest-funsuite_2.13-3.2.19.jar",
        "scalatest-compatible-3.2.19.jar", "scalactic_2.13-3.2.19.jar"])
    cp = f"{classes}:{RESOURCES}:{test_cp}:{jars}/*"
    tests = compile_cached("test-classes",
                           scala_files(HERE / "src" / "test" / "scala"), cp)
    cmd = [java(), "-Xmx1g", "-XX:-UsePerfData", "-cp", f"{tests}:{cp}",
           "org.scalatest.tools.Runner", "-oD", "-R", str(tests)]
    return subprocess.run(cmd, cwd=str(ROOT)).returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--unit-tests", action="store_true",
                    help="run the spec of the benchmark's pure helpers")
    args = ap.parse_args()
    jars = spark_jars()
    OUT.mkdir(exist_ok=True)
    if args.unit_tests:
        sys.exit(unit_tests(jars))
    if not args.workload:
        fail("--workload is required")
    sys.exit(run_benchmark(args, jars))


if __name__ == "__main__":
    main()
