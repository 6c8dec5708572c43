"""Build step of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/scala) using the Scala compiler that ships
in the Spark distribution's jars directory, into a directory under the
build dir ($CARGO_TARGET_DIR, default .bench_build) named by a hash of
every source file, so an unchanged tree is not compiled twice.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, or
    the one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not engine:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    if not bench:
        raise BuildError(f"no benchmark sources under {root}/perfbench/scala")
    return engine + bench


def build(root):
    """Compile if needed; return the classes directory."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(build_dir(root), "perfbench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    staging = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(os.path.join(staging, "classes"))
    os.makedirs(os.path.join(staging, "tmp"))
    argfile = os.path.join(staging, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={staging}/tmp",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", os.path.join(staging, "classes"), "-classpath", cp, f"@{argfile}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    shutil.rmtree(os.path.join(staging, "tmp"))
    try:
        os.replace(staging, out)
    except OSError:
        # a concurrent build of the same sources got there first
        shutil.rmtree(staging, ignore_errors=True)
        if not os.path.isdir(classes):
            raise
    return classes


if __name__ == "__main__":
    try:
        print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
