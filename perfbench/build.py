"""Build file of the migration benchmark.

Compiles the program (every Scala file under src/main/scala) and then the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution, so the build needs no sbt, no network and writes
only under the build directory. Each output is packed as a jar and cached
by a hash of its sources: an unchanged tree is not compiled twice.

The last step records a JVM class-data-sharing archive from a short
training run (the benchmark's self-check). Later runs map the archived
classes instead of loading and verifying Spark's classes again, which
takes about six seconds off every run's start-up; if the archive cannot be
made, runs go without it.

    python3 perfbench/build.py        # builds and prints the java command prefix
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH_DIR, "src")

# Spark on JDK 17 outside spark-submit needs these (as the sbt build sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_home():
    """$SPARK_HOME, else the first distribution with a bin/spark-submit on PATH."""
    cands = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for cand in cands:
        if cand and os.path.isdir(os.path.join(cand, "jars")):
            return cand
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(files, out_jar, classpath, log):
    """scalac into a temp dir, packed into a temp jar, then renamed: a
    killed build leaves nothing a later run would mistake for a cached
    output."""
    if os.path.isfile(out_jar):
        return
    tmp = "%s.tmp%d" % (out_jar, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit("perfbench: compile failed (log: %s)" % log)
    with zipfile.ZipFile(tmp + ".jar", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.replace(tmp + ".jar", out_jar)


def java_command(classpath, archive=None, dump=None, heap="3g"):
    """The java command prefix every benchmark JVM runs with."""
    cmd = ["java", "-Xms" + heap, "-Xmx" + heap, "-Xmn512m", "-Xss4m", "-Duser.timezone=UTC",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    if dump:
        cmd.append("-XX:ArchiveClassesAtExit=" + dump)
    elif archive and os.path.isfile(archive):
        cmd += ["-XX:SharedArchiveFile=" + archive, "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def _train(classpath, archive):
    """Record the class-data-sharing archive from one self-check run; a
    failed attempt is remembered, so later runs do not retry it."""
    failed = archive + ".failed"
    if os.path.isfile(archive) or os.path.isfile(failed):
        return
    work = archive + ".work%d" % os.getpid()
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tmp = archive + ".tmp%d" % os.getpid()
    cmd = java_command(classpath, dump=tmp) + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "perfbench.Main", "--selfcheck", "--work", work,
        "--out", os.path.join(work, "result.json"), "--cpus", "2"]
    log = os.path.join(build_dir(), "cds-train.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=600)
        except subprocess.TimeoutExpired:  # call() has killed the JVM
            rc = -1
    shutil.rmtree(work, ignore_errors=True)
    if rc == 0 and os.path.isfile(tmp):
        os.replace(tmp, archive)
    else:
        open(failed, "w").close()
        if os.path.exists(tmp):
            os.remove(tmp)


def build():
    """Compile if needed; return (classpath, class-data-sharing archive)."""
    program = _sources(PROGRAM_SRC)
    bench = _sources(BENCH_SRC)
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = os.path.join(spark_home(), "jars", "*")
    root = build_dir()
    os.makedirs(root, exist_ok=True)
    prog_jar = os.path.join(root, "program-%s.jar" % _digest(program))
    _compile(program, prog_jar, jars, os.path.join(root, "program-build.log"))
    bench_jar = os.path.join(root, "bench-%s.jar" % _digest(bench, prog_jar))
    _compile(bench, bench_jar, prog_jar + os.pathsep + jars,
             os.path.join(root, "bench-build.log"))
    classpath = os.pathsep.join([bench_jar, prog_jar, jars])
    archive = bench_jar[:-len(".jar")] + ".jsa"
    _train(classpath, archive)
    for old in glob.glob(os.path.join(root, "*.j[as][ra]")):  # earlier builds' jars and archives
        if old not in (prog_jar, bench_jar, archive):
            os.remove(old)
    return classpath, archive


if __name__ == "__main__":
    cp, jsa = build()
    print(" ".join(java_command(cp, jsa)))
