"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark harness (perfbench/jvm) with the Scala compiler that ships in
Spark's jars, into jars under .perfbench/build/ in the checkout, then writes
a class-data-sharing archive of every class the workloads load.

Each jar is keyed by a hash of its sources, and the archive by the jars and
the JDK, so a run after an unchanged build reuses them and a changed source
tree rebuilds.

    python3 perfbench/build.py            # prints the harness's java command
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".perfbench", "build")
# Spark ships the Scala compiler; without SPARK_HOME, the jars build.sbt uses
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

HEAP = "3g"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
TRAIN_TIMEOUT_S = 600


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_to(name, files, classpath):
    key = digest(files, classpath)
    dst = os.path.join(BUILD, f"{name}-{key}.jar")
    if os.path.isfile(dst):
        return dst
    if not files:
        raise SystemExit(f"no sources for {name}")
    # the class-data archive maps classes from jars only, not directories
    tmp = os.path.join(BUILD, f"{name}-{key}.tmp.jar")
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        if os.path.exists(tmp):
            os.remove(tmp)
        raise SystemExit(f"compile of {name} failed")
    os.rename(tmp, dst)
    return dst


def java(classpath, archive=None):
    """The harness's java command up to its main class."""
    # The inlining limits are the JDK 11 defaults. With JDK 17's deeper
    # inlining the JIT spent about 100 s of CPU compiling Spark's planner
    # during a text_curation run and its jobs settled later; with these,
    # about 75 s, and the jobs settled sooner and ran faster.
    return (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-XX:MaxInlineLevel=9", "-XX:InlineSmallCode=1000",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ([f"-XX:SharedArchiveFile={archive}"] if archive else [])
            + ["-cp", classpath])


def class_archive(classpath):
    """A dynamic class-data-sharing archive of the classes the workloads
    load, written once per build by a JVM that runs each workload's set-up
    on seed-0 inputs. Every run maps it instead of loading and verifying
    Spark's classes again, which takes several seconds off each set-up."""
    version = subprocess.run(["java", "-version"], stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True).stdout
    dst = os.path.join(BUILD, f"classes-{digest([], ' '.join(java(classpath)) + version)}.jsa")
    if os.path.isfile(dst):
        return dst
    root = os.path.join(BUILD, "train")
    shutil.rmtree(root, ignore_errors=True)
    for w in ("etl_reference", "text_curation", "serve_mixed"):
        gen.generate(w, 0, os.path.join(root, w, "data"))
    tmp = dst + ".tmp"
    cmd = (java(classpath) + [f"-XX:ArchiveClassesAtExit={tmp}", "perfbench.Main",
                              "--train", root, "--nproc", str(len(os.sched_getaffinity(0)))])
    with open(os.path.join(BUILD, "train.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=TRAIN_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    shutil.rmtree(root, ignore_errors=True)
    if rc != 0 or not os.path.isfile(tmp):
        raise SystemExit(f"class archive not written (exit {rc}); see {log.name}")
    os.rename(tmp, dst)
    return dst


def build():
    """Compile what changed and write the class archive; return the
    harness's java command up to its main class."""
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"Spark jars not found at {SPARK_JARS}")
    graft_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(ROOT, "perfbench", "jvm"))
    spark_cp = os.path.join(SPARK_JARS, "*")
    graft = compile_to("graft", graft_src, spark_cp)
    bench = compile_to("bench", bench_src, os.pathsep.join([graft, spark_cp]))
    classpath = os.pathsep.join([bench, graft, spark_cp])
    return java(classpath, class_archive(classpath))


if __name__ == "__main__":
    print(" ".join(build()))
