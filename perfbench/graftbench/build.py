"""Compile the engine and the benchmark harness from source.

Both are compiled with the Scala compiler that ships in Spark's own jar
directory, so no build tool and no dependency download is needed. The
classes are packed into jars and a class-data sharing archive is recorded
from one warm-up pass, which takes several seconds off every JVM start.
Outputs go under `perfbench/.build/` and are reused while the sources are
unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import zipfile

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"


def jvm_args(work):
    """JVM options of every harness run: the module opens Spark needs on
    JDK 17 (as build.sbt sets them), a fixed heap, and temp files kept in
    the run's work directory."""
    out = []
    for p in JDK17_OPENS:
        out += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return out + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                  "-XX:-UsePerfData",  # no hsperfdata file under /tmp
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        for line in open(sbt):
            if line.strip().startswith("unmanagedBase"):
                path = line.split('file("', 1)[1].split('"', 1)[0]
                if os.path.isdir(path):
                    return path
    raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")


def _sources(directory):
    return sorted(glob.glob(os.path.join(directory, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(jars, classpath, files, jar, log):
    out = jar + ".classes"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.dirname(jar)}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd + files, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: compile failed, see {log}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for path in sorted(glob.glob(os.path.join(out, "**", "*"), recursive=True)):
            if os.path.isfile(path):
                z.write(path, os.path.relpath(path, out))
    shutil.rmtree(out)
    os.replace(jar + ".tmp", jar)


def _stamped(path, stamp):
    p = path + ".stamp"
    return os.path.exists(path) and os.path.exists(p) and open(p).read() == stamp


def _stamp(path, stamp):
    with open(path + ".stamp", "w") as fh:
        fh.write(stamp)


def build(root, bench_dir, data_dir):
    """Return (classpath, extra JVM options), building what is out of date."""
    src = os.path.join(root, "src", "main", "scala")
    engine_files = _sources(src)
    if not engine_files:
        raise SystemExit(f"perfbench: no engine sources under {src}")
    jars = spark_jars(root)
    build_dir = os.path.join(bench_dir, ".build")
    os.makedirs(build_dir, exist_ok=True)
    engine = os.path.join(build_dir, "engine.jar")
    harness = os.path.join(build_dir, "harness.jar")
    archive = os.path.join(build_dir, "classes.jsa")

    engine_stamp = _digest(engine_files, jars)
    if not _stamped(engine, engine_stamp):
        _compile(jars, None, engine_files, engine, os.path.join(build_dir, "engine.log"))
        _stamp(engine, engine_stamp)
    harness_files = _sources(os.path.join(bench_dir, "scala"))
    harness_stamp = _digest(harness_files, engine_stamp)
    if not _stamped(harness, harness_stamp):
        _compile(jars, engine, harness_files, harness, os.path.join(build_dir, "harness.log"))
        _stamp(harness, harness_stamp)
    classpath = os.pathsep.join([harness, engine, os.path.join(jars, "*")])

    archive_stamp = _digest([], harness_stamp + " ".join(jvm_args("")))
    if not _stamped(archive, archive_stamp):
        work = os.path.join(build_dir, "archive_run")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        if os.path.exists(archive):
            os.remove(archive)
        cmd = (["java"] + jvm_args(work) + [f"-XX:ArchiveClassesAtExit={archive}",
               "-cp", classpath, "graft.perfbench.Main", "--workload", "dedup_similarity",
               "--seed", "0", "--seconds", "0", "--trace", "0", "--data", data_dir,
               "--work", work, "--out", os.path.join(work, "unused.json"),
               "--cores", str(len(os.sched_getaffinity(0))), "--warm-only"])
        with open(os.path.join(build_dir, "archive.log"), "w") as fh:
            subprocess.run(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                           env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp")),
                           timeout=600)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(archive):
            _stamp(archive, archive_stamp)
    extra = [f"-XX:SharedArchiveFile={archive}"] if _stamped(archive, archive_stamp) else []
    return classpath, extra
