"""Builds the program (src/main/scala) and the benchmark harness
(perfbench/harness) into one jar.

It compiles with the Scala compiler that ships among the Spark jars the
repo's build.sbt names as its `unmanagedBase` (or $SPARK_HOME/jars), with
the same empty compiler-option set as build.sbt. A stamp of the sources
skips the compile when nothing changed. The classes go into a jar, not a
directory, because the JVM's class-data archive (see run.py) only takes
classes from jars; a new jar drops the archive made for the old one.

    python3 perfbench/build.py          # from the repo root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

# Spark 4 on JDK 17 needs these opened outside spark-submit (build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def spark_jars(root):
    """The Spark jar directory, or None if there is none."""
    candidates = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    return None


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    return main, harness


def archive_path(out_dir):
    """Where the class-data archive of the current jar lives."""
    return os.path.join(out_dir, "perfbench.jsa")


def build(root, out_dir, log):
    """Compiles if needed; returns the classpath to run the harness with."""
    jars = spark_jars(root)
    main, harness = sources(root)
    if jars is None or not main or not harness:
        raise SystemExit("perfbench: needs the repo's Scala sources and the Spark jars "
                         "(build.sbt unmanagedBase or $SPARK_HOME/jars)")
    h = hashlib.sha256()
    for p in main + harness:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    jar = os.path.join(out_dir, "perfbench.jar")
    stamp_file = os.path.join(out_dir, "perfbench.stamp")
    cp = f"{jar}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.isfile(jar) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return cp
    tmp = os.path.join(out_dir, "perfbench-classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out_dir, "perfbench-sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(main + harness))
    jar_glob = os.path.join(jars, "*")
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out_dir}",
         "-cp", jar_glob, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jar_glob, "@" + args_file],
        check=True, stdout=log, stderr=subprocess.STDOUT)
    for p in (archive_path(out_dir), stamp_file):
        if os.path.exists(p):
            os.remove(p)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, dirs, files in os.walk(tmp):
            dirs.sort()
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    print(build(root, out, sys.stdout))
