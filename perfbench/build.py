"""Build file of the benchmark: compiles the engine's main sources together
with the benchmark's Scala sources, using the Scala compiler that ships in
the Spark distribution's `jars/` directory (no sbt, no resolution).

    python3 perfbench/build.py            # prints the classes directory

Output goes to `$CARGO_TARGET_DIR` (default `.bench_build`) under the
checkout, keyed by a hash of every source file, so an unchanged tree is
built once.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "scala")


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else the
    `unmanagedBase` directory the repo's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    found = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not found:
        raise SystemExit(f"no Spark jars under {jars} (set SPARK_HOME)")
    return found


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources missing: {ENGINE_SRC}")
    files = []
    for base in (ENGINE_SRC, BENCH_SRC):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    if os.path.isdir(ENGINE_RES):
        files += sorted(f for f in glob.glob(os.path.join(ENGINE_RES, "**", "*"), recursive=True)
                        if os.path.isfile(f))
    return files


def build():
    """Return the classes directory for the current sources, compiling if needed."""
    files = sources()
    srcs = [f for f in files if f.endswith(".scala")]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.pathsep.join(spark_jars())
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("compile failed")
    for f in files:
        if f.startswith(ENGINE_RES + os.sep):
            dst = os.path.join(tmp, os.path.relpath(f, ENGINE_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
    open(os.path.join(tmp, ".ok"), "w").close()
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
