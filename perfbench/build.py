"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the harness
(`perfbench/harness`) with the Scala compiler that ships among Spark's jars,
into `.bench_build/perfbench/classes` under the repository root. A content
stamp of every source skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/harness"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def ensure_built(root):
    """Returns (classes dir, jar dir); compiles first if a source changed."""
    jars = spark_jars(root)
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit("no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    base = os.path.join(root, BUILD_DIR)
    classes = os.path.join(base, "classes")
    stamp_file = os.path.join(base, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    # run from the build dir: scalac puts the working directory on its
    # class path, where a source directory would read as a package
    r = subprocess.run(cmd, cwd=base, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


if __name__ == "__main__":
    print(ensure_built(os.getcwd())[0])
