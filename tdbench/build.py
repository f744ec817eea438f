#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program under test (src/main/scala) together with the benchmark
(tdbench/src/main/scala) using the Scala compiler that ships in Spark's jar
directory, so no build tool and no dependency download is needed. Output goes
to .bench_build/tdbench/ at the repository root; a content stamp makes a
repeated build a no-op while the sources are unchanged.

    python3 tdbench/build.py         # build
    python3 tdbench/build.py test    # build, then run the benchmark's own tests
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "tdbench"

# Spark 4 on JDK 17 needs these when a SparkSession is created outside
# spark-submit (same list as org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"tdbench build: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("cannot find Spark's jars (set SPARK_HOME)")
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        fail(f"no scala-compiler jar in {jars}")
    return jars


def sources(*dirs):
    files = []
    for d in dirs:
        if not d.is_dir():
            fail(f"missing source directory {d.relative_to(ROOT)}")
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def compile_to(dest, files, classpath, jars):
    """Compile `files` into `dest` unless its stamp already matches."""
    want = stamp(files, jars)
    marker = dest / ".stamp"
    if marker.is_file() and marker.read_text() == want:
        return dest
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"tdbench build: compiling {len(files)} files into "
          f"{dest.relative_to(ROOT)}", file=sys.stderr)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(classpath), f"@{argfile}"]
    if subprocess.run(cmd, stdin=subprocess.DEVNULL).returncode != 0:
        fail("compilation failed")
    argfile.unlink()
    marker = tmp / ".stamp"
    marker.write_text(want)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    return dest


def build():
    """Compile program + benchmark; returns the runtime classpath."""
    jars = spark_jars()
    files = sources(ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala")
    classes = compile_to(OUT / "classes", files, [str(jars / "*")], jars)
    return [str(classes), str(BENCH), str(jars / "*")]


def java_command(classpath, work, heap="3g"):
    """`java ...` prefix that keeps every file the run writes under `work`."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata file in the system temp directory
    return ["java", *opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.1",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", os.pathsep.join(classpath)]


def child_env(work):
    """Environment for the JVM: Spark's scratch space stays under `work`
    even when the caller's environment points SPARK_LOCAL_DIRS elsewhere."""
    return dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))


def test():
    classpath = build()
    jars = spark_jars()
    tests = sources(BENCH / "src" / "test" / "scala")
    shutil.rmtree(OUT / "test-classes", ignore_errors=True)  # main may have changed
    test_classes = compile_to(OUT / "test-classes", tests, classpath, jars)
    work = OUT / "work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        cmd = java_command([str(test_classes), *classpath], work, heap="1g")
        return subprocess.run(cmd + ["tdbench.SelfTest", str(ROOT)],
                              stdin=subprocess.DEVNULL,
                              env=child_env(work)).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if sys.argv[1:] == ["test"]:
        sys.exit(test())
    elif sys.argv[1:]:
        fail("usage: build.py [test]")
    build()
