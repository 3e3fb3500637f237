"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM code (perfbench/scala) with the Scala compiler that ships
in the Spark distribution, packs them into .bench_build/app.jar, and
records a class-data-sharing archive (.bench_build/app.jsa) from one
training JVM that sets up every workload on a tiny input, so each run's
JVM maps the classes it loads instead of parsing them again.

Usage: python3 perfbench/build.py
A fingerprint of every source and resource file skips an up-to-date build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import gen_hic  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else spark-submit's."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("build: no Spark distribution with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                         "*.scala"), recursive=True))
    if not main:
        sys.exit("build: no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(jar, jars, work, jvm=()):
    """The workload JVM's command line up to the main class."""
    # a fixed heap: a growing one makes the first ops after set-up slower
    return (["java", "-Xms2g", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData"] +
            list(jvm) +
            ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dlog4j2.configurationFile=" +
             os.path.join(HERE, "log4j2.properties")] +
            [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-cp", jar + os.pathsep + os.path.join(jars, "*"),
             "perfbench.Main"])


def java_env():
    """The program's SPARK_GRAFT_* knobs unset, except its scratch: by
    default graft.io.Scratch writes under /dev/shm, outside the checkout,
    and only a shutdown hook removes it, which a killed JVM never runs.
    SPARK_GRAFT_NO_SHM=1 puts it under java.io.tmpdir, the run's work
    directory, at the cost of disk writes in place of tmpfs ones.
    """
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL", "SPARK_CONF"))}
    env["SPARK_GRAFT_NO_SHM"] = "1"
    return env


def compile_jar(srcs, res, jars, jar):
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xmx2g", "-Xss16m", "-cp", cp,
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-cp", cp] + srcs, cwd=ROOT)
    if r.returncode != 0:
        sys.exit("build: scalac failed")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(p, dst)
    if subprocess.run(["jar", "cf", jar, "-C", classes, "."]).returncode:
        sys.exit("build: jar failed")
    shutil.rmtree(classes)


def train(jar, jars, jsa):
    """Record the class-data-sharing archive from one training JVM."""
    tiny = os.path.join(BUILD, "data", gen_hic.cache_name(0, "tiny"))
    if not os.path.isdir(tiny):
        gen_hic.write_all(0, "tiny", tiny)
    work = os.path.join(BUILD, "work", "train-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(BUILD, "train.log")
    with open(log, "w") as out:
        r = subprocess.run(
            java_cmd(jar, jars, work, ["-XX:ArchiveClassesAtExit=" + jsa]) +
            ["--train", "1", "--cores", str(len(os.sched_getaffinity(0))),
             "--work", work, "--hic", tiny,
             "--sf", os.path.join(HERE, "data", "sf0.01"),
             "--pins", os.path.join(HERE, "pins", "suite_sf0.01.tsv")],
            cwd=ROOT, env=java_env(), stdout=out, stderr=subprocess.STDOUT)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(jsa):
        sys.exit("build: training run failed, see " + log)


def build():
    """Return (jar, Spark jars dir, archive), building what is stale."""
    jars = spark_jars()
    srcs = sources()
    res = sorted(p for p in glob.glob(os.path.join(RESOURCES, "**"),
                                      recursive=True) if os.path.isfile(p))
    fp = fingerprint(srcs + res + [os.path.abspath(__file__)])
    jar = os.path.join(BUILD, "app.jar")
    jsa = os.path.join(BUILD, "app.jsa")
    stamp = os.path.join(BUILD, "app.fingerprint")
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return jar, jars, jsa
    for f in (stamp, jar, jsa):
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(BUILD, exist_ok=True)
    compile_jar(srcs, res, jars, jar)
    train(jar, jars, jsa)
    with open(stamp, "w") as f:
        f.write(fp)
    return jar, jars, jsa


if __name__ == "__main__":
    print(build()[0])
