"""Build file of the benchmark: compiles graft's `src/main/scala` plus
the harness in `perfbench/harness` with the Scala compiler that ships
in Spark's jar directory, into `<build root>/classes-<source hash>`.

No sbt, no dependency resolution and nothing written outside the build
root: the classpath is Spark's jars, exactly the `unmanagedBase` of
graft's own build. A tree whose sources are unchanged reuses its
classes.

Usage: python3 perfbench/build.py [build_root]
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


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    graft's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def source_hash(files):
    h = hashlib.sha256()
    compilers = sorted(os.path.basename(p)
                       for p in glob.glob(os.path.join(spark_jars(), "scala-compiler*.jar")))
    h.update("|".join(compilers).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(build_root, timeout=850):
    """Compiled classes directory for the current tree (built if absent)."""
    files = sources()
    out = os.path.join(build_root, f"classes-{source_hash(files)}")
    if os.path.exists(os.path.join(out, "_BUILT")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jtmp = os.path.join(build_root, "scalac-tmp")
    os.makedirs(jtmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={jtmp}",
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", tmp] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         timeout=timeout, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise RuntimeError(f"scalac failed with exit code {res.returncode}")
    open(os.path.join(tmp, "_BUILT"), "w").close()
    os.replace(tmp, out)
    for old in glob.glob(os.path.join(build_root, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")))
