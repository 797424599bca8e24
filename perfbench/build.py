"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/scala) with the Scala compiler that
ships in Spark's jar directory, packs the classes and resources into
.bench_build/perfbench/perfbench.jar. Reused while no source changes.

    python3 perfbench/build.py        # build (or reuse) and print the jar
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one the repo's own
    build compiles against (build.sbt's unmanagedBase)."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jar directory with a Scala compiler "
                     "(set SPARK_HOME)")


RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError("no program sources under src/main/scala")
    res = sorted(p for p in glob.glob(os.path.join(RESOURCES, "**"), recursive=True)
                 if os.path.isfile(p))
    return prog + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala"))), res


def build():
    """Return the jar, compiling first if any source changed."""
    jars = spark_jars()
    srcs, res = sources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    jar = os.path.join(OUT, "perfbench.jar")
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == digest:
        return jar
    os.makedirs(OUT, exist_ok=True)
    for p in (stamp, jar):
        if os.path.exists(p):
            os.remove(p)
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join('"%s"' % p for p in srcs))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + OUT, "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise BuildError("scalac failed")
    for p in res:  # service registrations and other resources
        dst = os.path.join(tmp, os.path.relpath(p, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tmp):
            for name in sorted(files):
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.rename(jar + ".tmp", jar)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit("build: %s" % e)
