"""Builds the engine and the benchmark harness from source.

Compiles `src/main/scala` (the engine) together with `perfbench/scala` (the
harness) with the Scala compiler that ships in Spark's jar directory, into
`<build>/graft-bench.jar`. A stamp over every source file skips the build
when nothing changed; a rebuild also drops the class-data archives that
run.py derives from the jar. Writes nothing outside the build directory.

    python3 perfbench/build.py [BUILD_DIR]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    """The jars of Spark's distribution: $SPARK_HOME/jars, else the
    `unmanagedBase` the repository's build.sbt names, else the `jars`
    directory beside the `spark-submit` on the PATH."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            dirs.append(m.group(1))
    except OSError:
        pass
    submit = shutil.which("spark-submit")
    if submit:
        dirs.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for d in dirs:
        if os.path.isdir(d):
            return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".jar"))
    raise SystemExit("build: no Spark jar directory found; set SPARK_HOME")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(build_dir):
    """Returns the runtime class path, compiling first if any source changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    jar = os.path.join(build_dir, "graft-bench.jar")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    # a jar, not a class directory: class-data sharing archives only jars
    cp = [jar] + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    for stale in (classes, os.path.join(build_dir, "cds")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    jar_cp = os.pathsep.join(jars)
    r = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jar_cp, "scala.tools.nsc.Main",
         "-nowarn", "-Ybackend-parallelism", "4", "-d", classes,
         "-classpath", jar_cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, classes))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(d, exist_ok=True)
    build(d)
    print("built", os.path.join(d, "graft-bench.jar"))
