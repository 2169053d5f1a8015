"""Build file of the benchmark: compiles the program and the harness.

The program's sources (`src/main/scala`) and the harness
(`perfbench/src`) are compiled together with the Scala compiler that
ships in Spark's jar directory (`$SPARK_HOME/jars`, else the
`unmanagedBase` the project's build.sbt names) into
`.bench_build/classes`. A stamp of the sources' content skips the build
when nothing changed.

    python3 perfbench/build.py      # build, print the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")

# Module access Spark needs on JDK 17 outside spark-submit, as in the
# project's own build.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars", "*")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark installation")
    return os.path.join(m.group(1), "*")


def sources():
    main = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                     recursive=True)
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    own = glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala"))
    return sorted(main) + sorted(own)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles when the sources changed; returns the runtime classpath."""
    files = sources()
    stamp = _stamp(files)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    tmp = CLASSES + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", spark_jars()] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return classpath()


def classpath():
    return CLASSES + os.pathsep + spark_jars()


if __name__ == "__main__":
    print(build())
