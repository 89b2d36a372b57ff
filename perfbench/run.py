#!/usr/bin/env python3
"""Run the graft benchmark from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Compiles the library and the harness on first use (and whenever a source
is newer than the build) with the Scala compiler in Spark's jar directory,
the one the library's build.sbt names as its unmanagedBase. No sbt, Ivy
or Coursier is involved, so the build needs no cache or home directory.
Then it runs the harness in its own JVM. Every build and run output stays
under .bench_build/ in the checkout.
The last line of stdout is the harness's JSON result; the lines before
it name every metric with its unit. Exits non-zero, without a result,
if the checkout has no library sources or the build or run fails.
"""
import argparse
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
LAUNCH = BUILD / "launch.txt"
# A fixed heap: with a growing one the GC work per pass, which counts in
# pass_cpu_s, varied from JVM to JVM.
HEAP = ["-Xms2g", "-Xmx2g"]
COMPILER_HEAP = "-Xmx2g"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840
SOURCES = ["src/main/scala", "perfbench/src/main/scala"]
# Spark 4 on JDK 17 needs these outside spark-submit; the library's build
# passes the same list (Spark's JavaModuleOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (pathlib.Path(home) / "bin/java").is_file():
        return str(pathlib.Path(home) / "bin/java")
    return shutil.which("java") or "java"


def spark_jars():
    """Spark's jar directory: the library build's unmanagedBase, else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    for d in ([m.group(1)] if m else []) + [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]:
        if list(pathlib.Path(d).glob("scala-compiler-*.jar")):
            return pathlib.Path(d)
    return None


def scala_files():
    return sorted(f for rel in SOURCES for f in (ROOT / rel).rglob("*.scala"))


def build(tmp):
    """Compile every source into .bench_build/classes and write launch.txt,
    the JVM arguments the harness runs with, one per line. The compiler's
    log goes to stderr."""
    jars = spark_jars()
    if jars is None:
        print("perfbench: no Spark jar directory with a Scala compiler", file=sys.stderr)
        return False
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("".join(f"{f}\n" for f in scala_files()))
    cmd = [java(), COMPILER_HEAP, "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(CLASSES), f"@{argfile}"]
    try:
        done = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stdin=subprocess.DEVNULL,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: build exceeded {BUILD_TIMEOUT_S} s", file=sys.stderr)
        return False
    if done.returncode != 0:
        return False
    opts = [o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-cp", f"{CLASSES}{os.pathsep}{jars / '*'}"]
    LAUNCH.write_text("".join(f"{o}\n" for o in opts))
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src/main/scala/graft").is_dir():
        print("perfbench: run from the root of a checkout with the library sources",
              file=sys.stderr)
        return 2
    tmp = BUILD / "perfbench" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    if not LAUNCH.is_file() or any(f.stat().st_mtime > LAUNCH.stat().st_mtime for f in scala_files()):
        LAUNCH.unlink(missing_ok=True)
        if not build(tmp):
            print("perfbench: build failed", file=sys.stderr)
            return 3

    cmd = [java(), f"@{LAUNCH}", *HEAP, "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={ROOT / 'perfbench/log4j2.properties'}",
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    try:
        return subprocess.run(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                              timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 4


if __name__ == "__main__":
    sys.exit(main())
