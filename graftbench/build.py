"""Build for the benchmark: compiles the repository's main sources and
the harness with the Scala compiler that ships in Spark's jars.

    python3 graftbench/build.py        # prints the jar path

The output is one jar, `.bench_build/graftbench.jar` at the repository
root (or under `$CARGO_TARGET_DIR` when that is set), reused while the
sources are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark 4 on JDK 17 outside spark-submit (the list build.sbt passes)
JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME/jars, else the install
    that holds `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars: set SPARK_HOME")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    if not main:
        raise BuildError("no sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def stamp():
    """Digest of the source texts and the Spark jar names."""
    h = hashlib.sha256()
    for p in sources() + spark_jars():
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile if the sources changed; returns the jar path."""
    srcs = sources()
    jars = spark_jars()
    digest = stamp()
    jar = os.path.join(build_dir(), "graftbench.jar")
    stamp_file = jar + ".stamp"
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                return jar
    classes = os.path.join(build_dir(), "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", classes, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(classes)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
