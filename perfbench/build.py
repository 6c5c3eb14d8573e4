"""Builds the program under test plus the benchmark's JVM main.

One `scalac` run over the repository's `src/main/scala` and this
package's `src`, against the Spark distribution's jars (which ship the
matching Scala 2.13 compiler), packed into `perfbench/.build/graft.jar`.
A short dedup run then dumps a class-data-sharing archive of the classes
it loaded, which cuts several seconds of class loading from every run's
JVM start. A digest of every source file decides whether a rebuild is
needed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import zipfile

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
JAR = os.path.join(OUT, "graft.jar")
ARCHIVE = os.path.join(OUT, "graft.jsa")
STAMP = os.path.join(OUT, "stamp")

# the module opens Spark needs on JDK 17 outside spark-submit
_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# -XX:-UsePerfData: no hsperfdata file in the system temp directory
JVM_FLAGS = [f for p in _OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-XX:-UsePerfData", "-Xmx3g", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the directory
    the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.py: set SPARK_HOME to a Spark distribution")
    return m.group(1)


def classpath():
    return f"{JAR}:{spark_jars()}/*"


def jvm_flags():
    """JVM_FLAGS plus the class archive once the build has dumped it."""
    if os.path.exists(ARCHIVE):
        return JVM_FLAGS + [f"-XX:SharedArchiveFile={ARCHIVE}"]
    return JVM_FLAGS


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not program:
        raise SystemExit("build.py: no program sources under src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                                      recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure():
    """Build unless the jar was built from exactly these sources."""
    files = sources()
    want = digest(files + [os.path.abspath(__file__)])
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    shutil.rmtree(OUT, ignore_errors=True)
    classes = os.path.join(OUT, "classes")
    os.makedirs(classes)
    jars = f"{spark_jars()}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", jars] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise SystemExit("build.py: compile failed\n" + res.stdout[-4000:])
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in os.walk(classes):
            for n in names:
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    _dump_archive()
    with open(STAMP, "w") as f:
        f.write(want)


def _dump_archive():
    work = os.path.join(OUT, "dump")
    gen.write("dedup", 0, f"{work}/inputs", 0.3)
    cmd = (["java", f"-XX:ArchiveClassesAtExit={ARCHIVE}"] + JVM_FLAGS +
           [f"-Djava.io.tmpdir={work}", "-cp", classpath(), "graft.perfbench.Main",
            "--workload", "dedup", "--inputs", f"{work}/inputs", "--out", f"{work}/out",
            "--seconds", "1", "--trace", "0"])
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0 or not os.path.exists(ARCHIVE):
        raise SystemExit("build.py: class archive run failed\n" + res.stdout[-4000:])
