#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (graftbench/src) with the Scala compiler that ships in the
Spark distribution's jars directory ($SPARK_HOME/jars, else the
`unmanagedBase` directory the repo's build.sbt names), packs the classes
into one jar, and dumps a class-data
sharing archive of the classes a short benchmark run loads, so that each
run JVM starts without re-parsing them. The archive changes start-up
cost only, not the code that runs. Output goes to
.bench_build/build-<digest>/ under the checkout root; a build whose
sources are unchanged is reused.

    python3 graftbench/build.py      # builds, prints the jar path
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
SCALA = "2.13.17"
XMX = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            found = None
        if not found:
            raise BuildError("set SPARK_HOME, or name the Spark jars in build.sbt's unmanagedBase")
        jars = found.group(1)
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars directory at {jars}")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    found = {}
    for top in ("src/main/scala", "graftbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            found.setdefault(top, []).extend(
                os.path.join(d, f) for f in files if f.endswith(".scala"))
    for top in ("src/main/scala", "graftbench/src"):
        if not found.get(top):
            raise BuildError(f"no Scala sources under {top}")
    return sorted(found["src/main/scala"] + found["graftbench/src"])


def digest(srcs, jars):
    h = hashlib.sha256()
    for p in srcs + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def jvm_command(jar, archive, work, args):
    """The run JVM: fixed heap, Spark's module opens, all temp files in `work`."""
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-Xss8m"]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Djava.awt.headless=true", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", os.pathsep.join([jar] + spark_jars()), "graftbench.Main", "--work", work] + args


def compile_into(classes, srcs, jars):
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar", f"scala-reflect-{SCALA}.jar")]
    if len(compiler) != 3:
        raise BuildError(f"Scala {SCALA} compiler jars not found next to Spark")
    argfile = classes + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", classes, "@" + argfile]
    done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=600)
    os.remove(argfile)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])


def pack(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def dump_archive(jar, archive, tmp):
    """Class-data sharing archive from a short traced run; none if it fails."""
    work = os.path.join(tmp, "cds-run")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm_command(jar, None, work, [
        "--workload", "dedup", "--seed", "0", "--seconds", "1", "--trace", "1",
        "--out", os.path.join(work, "result.json"), "--cores", str(os.cpu_count() or 1)])
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={archive}")
    with open(os.path.join(tmp, "cds.log"), "w") as log:
        done = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, timeout=240)
    shutil.rmtree(work, ignore_errors=True)
    if done.returncode != 0 and os.path.exists(archive):
        os.remove(archive)  # an archive of an aborted run lacks most classes


def build():
    """Returns (jar, CDS archive or None, source digest, seconds spent building)."""
    jars = spark_jars()
    srcs = sources()
    tag = digest(srcs, jars)
    out = os.path.join(OUT, f"build-{tag}")
    jar = os.path.join(out, "graftbench.jar")
    archive = os.path.join(out, "graftbench.jsa")
    if os.path.exists(os.path.join(out, ".done")):
        return jar, (archive if os.path.exists(archive) else None), tag, 0.0
    t = time.monotonic()
    shutil.rmtree(out, ignore_errors=True)  # an earlier build that did not finish
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    try:
        compile_into(os.path.join(tmp, "classes"), srcs, jars)
        pack(os.path.join(tmp, "classes"), os.path.join(tmp, "graftbench.jar"))
        shutil.rmtree(os.path.join(tmp, "classes"))
        # the archive records the jar's path, so dump it where the jar will live
        os.rename(tmp, out)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    dump_archive(jar, archive, out)
    open(os.path.join(out, ".done"), "w").close()
    for old in os.listdir(OUT):  # builds of other sources
        if old.startswith("build-") and old != os.path.basename(out):
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    return jar, (archive if os.path.exists(archive) else None), tag, time.monotonic() - t


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
