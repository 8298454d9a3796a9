"""Build file of the benchmark: compiles graft's main sources and the
benchmark program (perfbench/src) with the Scala compiler that ships in
Spark's jar directory ($SPARK_JARS, else the `unmanagedBase` that
build.sbt declares), into <build_dir>/classes. A stamp over every
source file's path, size and mtime skips the compile when nothing
changed.

    python3 perfbench/build.py [build_dir]
"""
import hashlib
import os
import re
import subprocess
import sys



def spark_jars(root):
    """Spark's jar directory: $SPARK_JARS, else graft's own build setting."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = open(os.path.join(root, "build.sbt")).read()
    return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt).group(1)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


def classpath(build_dir, jar_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + \
        os.path.join(jar_dir, "*")


def ensure(root, build_dir):
    srcs = sources(root)
    jar_dir = spark_jars(root)
    h = hashlib.sha256()
    for s in srcs:
        st = os.stat(s)
        h.update(f"{s}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = os.path.join(build_dir, "classes.stamp")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath(build_dir, jar_dir)
    os.makedirs(classes, exist_ok=True)
    jars = os.path.join(jar_dir, "*")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", classes] + srcs
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit(f"build: scalac failed (exit {rc}), see {log}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath(build_dir, jar_dir)


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    ensure(root, os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                 else os.path.join(root, ".bench_build")))
