"""Build file of the benchmark harness: compiles the repository's main
sources together with `perfbench/harness/src` into `.bench_build/classes`,
with the Scala compiler shipped among the Spark jars that `build.sbt` names
as `unmanagedBase`. Skips the compile when no source changed.

Usage: python3 perfbench/harness/build.py   (from the repository root)
"""
import hashlib
import os
import re
import subprocess
import sys

BUILD_DIR = ".bench_build"


def jars_dir(root):
    sbt = open(os.path.join(root, "build.sbt"), encoding="utf-8").read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    out = []
    for base in ("src/main/scala", "src/main/java", "perfbench/harness/src"):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root):
    """Compile if needed; return the runtime classpath."""
    jars = jars_dir(root)
    classes = os.path.join(root, BUILD_DIR, "classes")
    cp = f"{classes}:{jars}/*"
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs + [os.path.join(root, "build.sbt")]:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(classes, exist_ok=True)
    argfile = os.path.join(root, BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", f"{jars}/*", "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build(os.getcwd()))
