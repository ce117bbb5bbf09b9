"""Build file of the benchmark: compiles the program (`src/main/scala`) and the
benchmark harness (`perfbench/scala`) with the Scala compiler shipped in the
Spark distribution, into `.bench_build/classes` under the checkout.

The build is skipped when a stamp of every source file matches the last
build. Needs `java` (JAVA_HOME or PATH) and a Spark 4 distribution
(SPARK_HOME, or `spark-submit` on PATH) whose `jars/` holds the Scala
2.13 compiler and library.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
ORACLES = os.path.join(BUILD, "oracles")

# build.sbt's forked-JVM module openings: Spark on JDK 17 needs them outside
# spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME or PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_2.13-*.jar")):
        raise SystemExit("perfbench: no Spark 2.13 jars found (set SPARK_HOME)")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"perfbench: no program sources under {main}")
    return found + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def jvm_flags(tmp_dir):
    # A small fixed young generation: with a large or adaptive one a run
    # sees only a few collections, and the highest post-GC heap occupancy
    # (peak_heap_mb) then depends on what happened to be live at those few
    # instants, 20-30 % apart between identical runs; with 128 MB it is
    # sampled dozens of times per run and repeats within a few percent.
    flags = ["-Xmx3g", "-Xmn128m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir}",
             "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def _stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    srcs = sources()
    stamp = _stamp(srcs)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath()
    jars = spark_jars()
    scala_jars = [glob.glob(os.path.join(jars, f"{n}-2.13*.jar"))
                  for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(scala_jars):
        raise SystemExit("perfbench: the Spark distribution has no Scala 2.13 compiler")
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
           "-cp", os.pathsep.join(j[0] for j in scala_jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=900)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    # the repo's own oracle SQL, as the program ships it
    r = subprocess.run([java(), *jvm_flags(BUILD), "-cp", classpath(),
                        "perfbench.Main", "oracle", ORACLES],
                       stdout=log, stderr=log, timeout=300)
    if r.returncode != 0:
        raise SystemExit("perfbench: oracle export failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    print(build())
