"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) into one class directory with
the Scala compiler that ships in the Spark distribution.

It compiles against the jars build.sbt names as `unmanagedBase`, the same
ones the sbt build uses. The output lives under .bench_build/perfbench/
and is rebuilt only when a source file changes. No sbt process is involved, so none is alive while
the benchmark runs.

    python3 perfbench/build.py      # from the repository root
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars_dir(root):
    """The directory build.sbt takes its unmanaged jars (Spark, Scala) from."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no unmanagedBase := file(...) in build.sbt")
    return m.group(1)


def spark_jars(root):
    d = spark_jars_dir(root)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no jars in {d}")
    return jars


def out_dir(root):
    return os.path.join(root, ".bench_build", "perfbench")


def build(root):
    """Returns the class directory, compiling first if a source changed."""
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                               recursive=True))
    if not program:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    if not harness:
        raise BuildError("no harness sources under perfbench/harness")
    sources = program + harness
    jars = spark_jars(root)
    h = hashlib.sha256()
    for path in sources + jars:
        h.update(os.path.relpath(path, root).encode())
        if path.endswith(".scala"):
            with open(path, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()

    out = out_dir(root)
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(classes) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(sources) + "\n")
        cp = ":".join(jars)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
        log_path = os.path.join(out, "build.log")
        with open(log_path, "w") as log:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                timeout=800).returncode
        if rc != 0:
            with open(log_path) as f:
                tail = f.read()[-4000:]
            raise BuildError(f"scalac exited {rc}:\n{tail}")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
