"""Build file of the benchmark package.

1. Compiles graft's main sources and the harness (perfbench/harness) with
   the Scala compiler that ships in the Spark distribution.
2. Packs the classes into one jar.
3. Runs the harness once on small inputs of both workloads with
   -XX:ArchiveClassesAtExit, writing the class-data-sharing archive every
   benchmark run maps at start.

Everything lands in .bench_build/perfbench/<hash of sources and jars>/, so an
unchanged tree builds once per checkout. Run it alone with
`python3 perfbench/build.py` from the checkout root; run.py calls it first.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import inputs  # noqa: E402
import settings  # noqa: E402


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory (SPARK_HOME, else the
    pyspark package's bundled jars)."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not graft:
        raise BuildError(f"graft sources not found under {os.path.join(root, 'src', 'main', 'scala')}")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "**", "*.scala"), recursive=True))
    if not harness:
        raise BuildError("benchmark harness sources not found")
    return graft + harness


def _run(cmd, what, timeout, cwd=None):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=timeout, cwd=cwd)
    if r.returncode != 0:
        raise BuildError(f"{what} failed (exit {r.returncode}):\n" + r.stdout[-4000:])
    return r.stdout


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def _train(root, key, classpath, archive):
    """One small run of both workloads that dumps the loaded classes. Its
    store lives under bench_work/, like a benchmark run's."""
    work = os.path.join(root, "bench_work", f"build-{key}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        dash = os.path.join(work, "inputs")
        inputs.generate("dashboard_read", 0, dash, ingest_ops=settings.ingest_ops_needed(2, False))
        inputs.generate("batch_dedup", 0, os.path.join(work, "batch_inputs"))
        cfg = settings.config("train", 2, False, dash, work, warm=0)
        cfg["batch_inputs"] = os.path.join(work, "batch_inputs")
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        os.makedirs(os.path.join(work, "tmp"))
        _run(settings.java_cmd(classpath, f"-XX:ArchiveClassesAtExit={archive}", cfg_path,
                               ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")]),
             "class-list run", timeout=600, cwd=work)
        if not os.path.exists(archive):
            raise BuildError("the class-list run wrote no archive")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(root, log=sys.stderr):
    """Build if needed; return (classpath, archive path)."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(settings.JVM_FLAGS + settings.ADD_OPENS).encode())
    for j in sorted(os.listdir(jars)):
        h.update(j.encode())
    key = h.hexdigest()[:16]
    out = os.path.join(root, ".bench_build", "perfbench", key)
    jar = os.path.join(out, "graft-perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    classpath = f"{jar}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(os.path.join(out, "ok")):
        return classpath, archive
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "classes"))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    _run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
          "-usejavacp", "-nowarn", "-d", os.path.join(out, "classes")] + srcs,
         "scalac", timeout=600)
    _jar(os.path.join(out, "classes"), jar)
    shutil.rmtree(os.path.join(out, "classes"))
    print("[perfbench] writing the class-data-sharing archive", file=log, flush=True)
    _train(root, key, classpath, archive)
    open(os.path.join(out, "ok"), "w").close()
    return classpath, archive


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
