#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jars, into .bench_build/perfbench/classes-<digest>.
The digest covers every source file, so a changed program is rebuilt and
an unchanged one is reused.

Spark is found through SPARK_HOME, else through `spark-submit` on PATH.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent

# Spark on JDK 17 outside spark-submit needs these (build.sbt uses the same).
JDK17_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def JVM_FLAGS(work):
    """Keeps a JVM's scratch files inside `work`: no /tmp perf-data file,
    temporary files under work/tmp."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def classpath(classes):
    return f"{classes}{os.pathsep}{spark_jars() / '*'}"


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.name).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def sources(root):
    return sorted((root / "src" / "main" / "scala").rglob("*.scala")) + \
        sorted((HERE / "src").rglob("*.scala"))


def build(root, work):
    srcs = sources(root)
    out = work / f"classes-{digest(srcs)}"
    if (out / "_DONE").exists():
        return out
    work.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix="classes-tmp-", dir=work))
    cmd = ["java", *JVM_FLAGS(work), "-Xss8m", "-Xmx3g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", "4", "-d", str(tmp), *map(str, srcs)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compile failed\n" + r.stdout[-4000:])
    (tmp / "_DONE").write_text("")
    try:
        tmp.rename(out)
    except OSError:  # a concurrent build of the same sources finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    root = Path.cwd()
    print(build(root, root / ".bench_build" / "perfbench"))
