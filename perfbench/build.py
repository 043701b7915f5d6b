"""Build file of the benchmark: compiles the library and the harness.

Compiles `src/main/scala` (the library under test) and
`perfbench/scala` (the harness) with the Scala compiler that ships in
Spark's jar directory (the `unmanagedBase` that build.sbt names, or
`$SPARK_JARS`), into `.bench_build/perfbench/classes`. A stamp of
every source's path and content skips the compile when nothing changed.
Nothing outside the checkout is written.

Usage (from the checkout root): python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("no Spark jar directory: set SPARK_JARS")
    return m.group(1)


def sources(root, rel):
    out = []
    for d, _, fs in os.walk(os.path.join(root, rel)):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, out, classpath, files):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"compile failed: {out}")


def build(root):
    """Compile if needed; returns the classpath to run the harness."""
    lib = sources(root, "src/main/scala")
    bench = sources(root, "perfbench/scala")
    if not lib or not bench:
        raise SystemExit("no sources: run from the root of a graft checkout")
    jars = spark_jars(root)
    if not os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        raise SystemExit(f"Spark jars with the Scala compiler not found in {jars}")
    base = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(base, "classes")
    want = stamp(lib + bench + [os.path.abspath(__file__)])
    stamp_file = os.path.join(base, "stamp")
    cp = f"{classes}/lib:{classes}/bench:{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    scalac(jars, f"{tmp}/lib", f"{jars}/*", lib)
    scalac(jars, f"{tmp}/bench", f"{tmp}/lib:{jars}/*", bench)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(build(os.getcwd()))
