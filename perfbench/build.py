"""Build file of the benchmark: compiles the engine (`src/main/scala`)
and the benchmark's engine side (`perfbench/scala`) with the Scala
compiler that ships in Spark's jars, each into a jar keyed by a hash of
its sources. A later run with the same sources reuses them.

    python3 perfbench/build.py        # prints the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise SystemExit("build: no Spark distribution with jars found (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def _scalac(srcs, out, cp):
    """Compile `srcs` into `out` (atomically: a finished dir has `.done`)."""
    if os.path.isfile(os.path.join(out, ".done")):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    r = subprocess.run([java, "-Xmx2g", "-Xss8m", "-cp", ":".join(spark_jars()),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
                        "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def _jar(classes):
    """Pack a finished classes directory into `<classes>.jar` (the JVM's
    class-data sharing archives only classes that come from jars)."""
    out = classes + ".jar"
    if os.path.isfile(out):
        return out
    with zipfile.ZipFile(out + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for root, _, files in os.walk(classes):
            for f in sorted(files):
                if f != ".done":
                    path = os.path.join(root, f)
                    z.write(path, os.path.relpath(path, classes))
    os.replace(out + ".tmp", out)
    return out


def _digest(paths, seed=b""):
    h = hashlib.sha256(seed)
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile what changed; returns the classpath entries (jars) of
    benchmark and engine."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: no engine sources under src/main/scala")
    resources = os.path.join(ROOT, "src/main/resources")
    res = sorted(p for p in glob.glob(os.path.join(resources, "**/*"), recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    jars = spark_jars()
    engine_key = _digest(engine + res)
    engine_out = os.path.join(build_dir(), "engine-" + engine_key)
    _scalac(engine, engine_out, ":".join(jars))
    for p in res:  # the engine's data source registration and log config
        dst = os.path.join(engine_out, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    bench_out = os.path.join(build_dir(), "bench-" + _digest(bench, engine_key.encode()))
    _scalac(bench, bench_out, ":".join([engine_out] + jars))
    return [_jar(bench_out), _jar(engine_out)]


if __name__ == "__main__":
    print(":".join(build()))
