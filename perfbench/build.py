"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the harness (`perfbench/harness`) with the Scala compiler that ships
in Spark's jar directory, into `.bench_build/` at the checkout root;
packs classes and resources into one jar; dumps `SparkEntry.oracleSql`
beside it; and records a class-data-sharing archive from a short
training run, so each benchmark JVM starts its session in seconds.
Rebuilds only when a source file changed.

    python3 perfbench/build.py      # build (or confirm the build is current)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "app.jar")
CDS = os.path.join(BUILD, "app.jsa")
ORACLE = os.path.join(BUILD, "oracle_sql.json")
STAMP = os.path.join(BUILD, "stamp")
SRC_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(ROOT, "perfbench", "harness")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")

# Spark 4 on JDK 17 outside spark-submit (the list build.sbt passes).
# -XX:-UsePerfData below keeps the JVM from writing /tmp/hsperfdata_*:
# a run writes only inside its checkout.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME, else the install that puts
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for d in SRC_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def java(args, heap="3g", tmp=None, cds=None):
    """The command line of a benchmark JVM running perfbench.Harness."""
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", *ADD_OPENS,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if tmp:
        cmd.append(f"-Djava.io.tmpdir={tmp}")
    if cds == "record":
        cmd.append(f"-XX:ArchiveClassesAtExit={CDS}")
    elif os.path.exists(CDS):
        cmd.append(f"-XX:SharedArchiveFile={CDS}")
    return cmd + ["-cp", os.pathsep.join([JAR, *spark_jars()]), "perfbench.Harness", *args]


def _jar():
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for top in (CLASSES, RESOURCES):
            for dp, _, fs in os.walk(top):
                for f in sorted(fs):
                    p = os.path.join(dp, f)
                    z.write(p, os.path.relpath(p, top))
    os.replace(JAR + ".tmp", JAR)


def _record_cds():
    """A short pig_scripts run over tiny inputs loads most of the classes
    every workload needs; the JVM archives them at exit."""
    import gen
    work = os.path.join(BUILD, "cds-train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen.generate("pig_scripts", 0, os.path.join(work, "data"), {"pig_sf": 0.002})
    cmd = java(["--workload", "pig_scripts", "--data", os.path.join(work, "data"),
                "--work", work, "--seconds", "0", "--trace", "0", "--seed", "0",
                "--fixture-reps", "1", "--out", os.path.join(work, "result.json")],
               tmp=os.path.join(work, "tmp"), cds="record")
    r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=400)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: class-data-sharing training run failed")


def ensure():
    """Build if any source changed since the last build."""
    srcs = sources()
    h = hashlib.sha256()
    res = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(RESOURCES) for f in fs)
    # this file and gen.py shape the jar and the archive's training run too
    own = [os.path.join(ROOT, "perfbench", f) for f in ("build.py", "gen.py")]
    for f in srcs + res + own:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    for f in (STAMP, CDS):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.pathsep.join(spark_jars())
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: compile failed")
    _jar()
    r = subprocess.run(java(["--dump-oracle", ORACLE]), cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: oracle dump failed")
    _record_cds()
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    ensure()
    print(f"build current: {os.path.relpath(JAR, ROOT)}")
