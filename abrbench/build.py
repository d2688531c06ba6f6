"""Build file of the benchmark: compiles the program (``src/main/scala``)
together with the benchmark's JVM code (``abrbench/src``) into one class
directory, with the Scala compiler that ships in Spark's jar directory (the
same jars the program's sbt build compiles against).

The build is skipped when a stamp of every source file's path and content,
and of the jar directory's path, matches the last successful build.

    python3 abrbench/build.py            # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jar directory, which also holds the Scala compiler: the first
    of ``$SPARK_HOME/jars``, the one beside the ``spark-submit`` on the PATH
    and the pyspark package's that has both."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        dirs.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in dirs:
        if (glob.glob(os.path.join(d, "spark-core_*.jar"))
                and glob.glob(os.path.join(d, "scala-compiler-*.jar"))):
            return d
    raise RuntimeError("no Spark jar directory found: set SPARK_HOME")


def sources(root):
    out = []
    for d in (os.path.join(root, "src", "main", "scala"),
              os.path.join(BENCH, "src")):
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(paths):
    """Hash of each path and, for files, its content."""
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode() + b"\0")
        if os.path.isfile(p):
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile if needed; return the class directory. Raises on failure."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise RuntimeError("no program sources under src/main/scala")
    files = sources(root)
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    jars = spark_jars()
    want = stamp(files + [jars])
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp",
           os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    # compiler output goes to stderr: a run's stdout ends in its result
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    os.makedirs(out, exist_ok=True)
    print(build(os.getcwd(), os.path.abspath(out)))
