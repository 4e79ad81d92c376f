"""Build file of the benchmark package.

Compiles the program's sources (``src/main/scala``) together with the
benchmark's own (``perfbench/src``) using the Scala compiler that ships in
the Spark distribution's ``jars`` directory, into ``<build dir>/classes``.
A fingerprint of every source file and of the compiler jar is stored next
to the classes; an unchanged fingerprint skips the compile.

    python3 perfbench/build.py            # build into $CARGO_TARGET_DIR or .bench_build
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


class BuildFailure(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars directory ($SPARK_HOME/jars, else
    the one next to spark-submit on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildFailure("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def _one(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-2.*.jar")))
    if not found:
        raise BuildFailure(f"no {prefix} jar in {jars}")
    return found[-1]


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not program:
        raise BuildFailure(f"no program sources under {os.path.join(root, 'src/main/scala')}")
    if not bench:
        raise BuildFailure("no benchmark sources under perfbench/src")
    return program + bench


def build(root, build_dir):
    """Returns (classes dir, build id); compiles only when sources changed."""
    jars = spark_jars()
    compiler = [_one(jars, p) for p in ("scala-compiler", "scala-library", "scala-reflect")]
    srcs = sources(root)
    h = hashlib.sha256(os.path.basename(compiler[0]).encode())
    for path in srcs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    build_id = h.hexdigest()[:16]
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == build_id:
        return classes, build_id

    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + argfile]
    print(f"building {len(srcs)} sources into {classes}", file=sys.stderr)
    if subprocess.run(cmd).returncode != 0:
        raise BuildFailure("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(build_id)
    return classes, build_id


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    try:
        print(build(root, out)[0])
    except BuildFailure as e:
        sys.exit(f"build failed: {e}")
