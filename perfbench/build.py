#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's main sources
(src/main/scala) together with perfbench/src into one class directory,
using the Scala compiler that ships in Spark's jar directory (the one
the repository's build.sbt compiles against).

    python3 perfbench/build.py        # from the repository root

The class directory is keyed by a hash of every source file, so an
unchanged tree is never compiled twice.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory the repository's build.sbt names (unmanagedBase),
    else $SPARK_HOME/jars."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars}")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main")
    if not os.path.isdir(os.path.join(main, "scala")):
        raise SystemExit(f"perfbench: engine sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    resources = sorted(f for f in glob.glob(os.path.join(main, "resources", "**"), recursive=True)
                       if os.path.isfile(f))
    return files, resources


def build(root):
    """Returns the class directory, compiling it first if needed."""
    files, resources = sources(root)
    h = hashlib.sha256()
    for f in files + resources:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_BUILT")):
        return out
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    args = os.path.join(base, "scalac-args.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(root), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    main_res = os.path.join(root, "src", "main", "resources")
    for f in resources:
        dst = os.path.join(out, os.path.relpath(f, main_res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, "_BUILT"), "w").close()
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
