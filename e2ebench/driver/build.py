"""Build file of the benchmark driver.

Builds the repository with sbt (classes under target/scala-2.13/classes),
then compiles the driver sources next to this file with the Scala compiler
shipped among the Spark jars, against the repository's classes and the Spark
jars. Both steps are skipped when their inputs are unchanged since the last
build. Build outputs go to `.bench_build/` at the repository root.

Run it alone with `python3 e2ebench/driver/build.py` from the repository
root; `e2ebench/run.py` calls `build()` itself.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
REPO_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
DRIVER_CLASSES = os.path.join(OUT, "driver-classes")


class BuildError(Exception):
    pass


def spark_jars_dir():
    """The Spark jar directory the repository builds against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    path = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(path, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars found in {path!r}")
    return path


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _fresh(stamp, digest, output):
    if not os.path.isdir(output) or not os.path.exists(stamp):
        return False
    with open(stamp) as f:
        return f.read() == digest


def _run(cmd, log, env=None):
    with open(log, "w") as out:
        rc = subprocess.call(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BuildError(f"{' '.join(cmd[:3])} ... failed (exit {rc}):\n{tail}")


def build_repo():
    sources = [os.path.join(ROOT, "build.sbt")]
    sources += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    sources += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    sources += [p for p in glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                if os.path.isfile(p)]
    digest = _digest(sources)
    stamp = os.path.join(OUT, "repo.stamp")
    if _fresh(stamp, digest, REPO_CLASSES):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
         os.path.join(OUT, "repo-build.log"), env)
    with open(stamp, "w") as f:
        f.write(digest)


def build_driver():
    jars_dir = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    sources = sorted(glob.glob(os.path.join(HERE, "*.scala")))
    digest = _digest(sources + [os.path.join(OUT, "repo.stamp")])
    stamp = os.path.join(OUT, "driver.stamp")
    if _fresh(stamp, digest, DRIVER_CLASSES):
        return
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-2\.13[^/]*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError(f"Scala 2.13 compiler jars not found in {jars_dir!r}")
    shutil.rmtree(DRIVER_CLASSES, ignore_errors=True)
    os.makedirs(DRIVER_CLASSES)
    _run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
          "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join([REPO_CLASSES] + jars),
          "-d", DRIVER_CLASSES] + sources,
         os.path.join(OUT, "driver-build.log"))
    with open(stamp, "w") as f:
        f.write(digest)


def build():
    """Builds what is stale; returns the driver's Java class path."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BuildError(f"{need} is missing: run from the repository root")
    os.makedirs(OUT, exist_ok=True)
    build_repo()
    build_driver()
    return os.pathsep.join([DRIVER_CLASSES, REPO_CLASSES, os.path.join(spark_jars_dir(), "*")])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
