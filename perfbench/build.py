"""Build file of the benchmark.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's JVM program (`perfbench/src`) into `.bench_build/classes`,
using the Scala compiler that ships in the Spark distribution's jar
directory (the same jars the engine runs on). A stamp of every source
file's content skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

OUT = ".bench_build"
CLASSES = os.path.join(OUT, "classes")
_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
          "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
          "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm_options(work):
    """JVM flags of every benchmark run. The heap and young generation have fixed sizes, so peak RSS tracks
    what a run keeps alive rather than the collector's resizing; Spark
    on JDK 17 needs the module opens spark-submit would add."""
    here = os.path.dirname(os.path.abspath(__file__))
    return (["-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC", "-Xss16m",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp", "-Xlog:disable",
             f"-Dlog4j2.configurationFile={here}/log4j2.properties",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in _OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")])


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else pyspark's."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    raise SystemExit("build: no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise SystemExit("build: no engine sources under src/main/scala "
                         "(run from the repository root)")
    return files + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp = f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}"
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(CLASSES) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return cp
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.abspath(OUT)}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, f"@{argfile}"]
    print(f"build: compiling {len(files)} Scala files", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
