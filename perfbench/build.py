"""Build step of the collection-facade benchmark.

Compiles the engine (`src/main/scala`) and the benchmark harness
(`perfbench/src`) with the Scala compiler that ships in the Spark jar
directory, straight into `.bench_build/perfbench/`. No sbt, no dependency
resolution and no writes outside the checkout. Each output directory is
keyed by a hash of its sources, so a checkout compiles once and later runs
reuse the classes.

    python3 perfbench/build.py        # prints the runtime classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")


class BuildError(RuntimeError):
    pass


def spark_jars(root):
    """The jar directory the engine builds against: $SPARK_HOME/jars, else
    the `unmanagedBase` the root build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def _sources(src_dir):
    out = []
    for d, _, files in os.walk(src_dir):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def _digest(root, paths, salt):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _compile(jars, classpath, sources, out_dir):
    if os.path.isdir(out_dir):
        return
    log = out_dir + ".log"
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join([os.path.join(jars, "*")] + classpath),
           "-d", tmp, "@" + argfile]
    with open(log, "wb") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed (exit {rc}); see {log}")
    os.remove(log)
    os.rename(tmp, out_dir)


def _prune(base, prefix, keep):
    for name in os.listdir(base):
        path = os.path.join(base, name)
        if name.startswith(prefix) and name != keep and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)


def build(root="."):
    """Compile what is stale and return the runtime classpath entries."""
    main_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(root, "perfbench", "src")
    if not os.path.isdir(main_src):
        raise BuildError(f"engine sources not found under {main_src}")
    jars = spark_jars(root)
    base = os.path.join(root, BUILD_DIR)
    os.makedirs(base, exist_ok=True)
    main_files = _sources(main_src)
    bench_files = _sources(bench_src)
    if not main_files or not bench_files:
        raise BuildError("no Scala sources to compile")
    main_key = "main-" + _digest(root, main_files, jars)
    bench_key = "bench-" + _digest(root, bench_files, main_key)
    main_out = os.path.join(base, main_key)
    bench_out = os.path.join(base, bench_key)
    _compile(jars, [], main_files, main_out)
    _compile(jars, [main_out], bench_files, bench_out)
    _prune(base, "main-", main_key)
    _prune(base, "bench-", bench_key)
    return [bench_out, main_out, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(".")))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
