#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution's jars, packages them into one jar, and records a JVM
class-data-sharing archive from a training run so every benchmark JVM
starts with Spark's classes already parsed.

    python3 perfbench/build.py          # build (no-op when up to date)

The build dir is `$CARGO_TARGET_DIR` when set, else `.bench_build`, both
relative to the repository root. A content stamp over every source file,
resource and the jar list makes the build a no-op when nothing changed.
Nothing is resolved from a network: the compiler and every dependency are
the jars under `$SPARK_HOME/jars`, else the directory the sbt build names
as its `unmanagedBase`.
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
COMPILER_JARS = ("scala-compiler", "scala-library", "scala-reflect")

# Spark 4 on JDK 17 outside spark-submit needs these opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def heap_gb():
    """Half of MemTotal, clamped to [2, 8] GiB (the tier-1 SPARK_DRIVER_MEM rule)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        lib = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                lib = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise BuildError("no SPARK_HOME and no unmanagedBase in build.sbt")
    jars = sorted(glob.glob(os.path.join(lib, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {lib} (set SPARK_HOME)")
    return jars


def _tree(d):
    return sorted(p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def inputs():
    """(scala sources, resource roots) of the engine and the harness."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError("engine sources not found under src/main/scala; "
                         "run from a full checkout of the repository")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not harness:
        raise BuildError("harness sources not found under perfbench/src")
    # the engine's resources carry the `gentable` DataSourceRegister
    return engine + harness, [os.path.join(ROOT, "src", "main", "resources"),
                              os.path.join(HERE, "conf")]


def _stamp(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def java(heap, classpath, archive=None, dump=None):
    """The benchmark JVM's command prefix."""
    # -UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap}g", "-Xss8m", "-Duser.timezone=UTC"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    if dump:
        cmd += [f"-XX:ArchiveClassesAtExit={dump}", "-Xlog:cds=off"]
    return cmd + ["-cp", classpath]


def _jar(classes, resources, out):
    with zipfile.ZipFile(out, "w", zipfile.ZIP_STORED) as z:
        for root in [classes] + resources:
            for p in _tree(root):
                z.write(p, os.path.relpath(p, root))


def ensure_built(log=sys.stderr):
    """Build when an input changed; return the benchmark JVM's command prefix."""
    jars = spark_jars()
    srcs, resources = inputs()
    # this file too: it holds the JVM flags the archive is recorded under
    stamp = _stamp(srcs + [p for r in resources for p in _tree(r)] + [__file__], jars)
    bd = build_dir()
    jar = os.path.join(bd, "perfbench.jar")
    archive = os.path.join(bd, "perfbench.jsa")
    stamp_file = os.path.join(bd, "build.stamp")
    classpath = os.pathsep.join([jar] + jars)
    heap = heap_gb()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return java(heap, classpath, archive=archive)
    compiler = [j for j in jars if os.path.basename(j).startswith(COMPILER_JARS)]
    if len(compiler) != len(COMPILER_JARS):
        raise BuildError("scala compiler jars not found among the Spark jars")
    classes = os.path.join(bd, "classes")
    for stale in (stamp_file, jar, archive):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(bd, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", os.pathsep.join(jars), "-d", classes] + srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
                           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
                           "@" + args_file], stdout=log, stderr=log)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    _jar(classes, resources, jar)
    # class-data-sharing archive of everything a set-up loads (needs a
    # directory-free classpath, hence the jar)
    print("[perfbench] recording the class-data-sharing archive", file=log, flush=True)
    train = os.path.join(bd, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(os.path.join(train, "tmp"))
    proc = subprocess.run(
        java(heap, classpath, dump=archive)
        + [f"-Djava.io.tmpdir={train}/tmp", "perfbench.Main", "--train", train,
           "--cpus", str(len(os.sched_getaffinity(0)))],
        stdout=log, stderr=log, cwd=train)
    shutil.rmtree(train, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(archive):
        raise BuildError(f"training run failed with exit code {proc.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return java(heap, classpath, archive=archive)


if __name__ == "__main__":
    try:
        ensure_built()
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
