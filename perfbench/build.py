"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/scala`) with the Scala compiler that
ships in Spark's jar directory, so the build needs no dependency
resolution and writes only under `.bench_build/` in the checkout. A stamp
of the sources' contents skips the compile when nothing changed.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_classpath():
    """Spark's jars, which include the Scala compiler: under
    $SPARK_JARS_DIR, else $SPARK_HOME/jars, else next to a `spark-submit`
    on PATH."""
    dirs = [os.environ.get("SPARK_JARS_DIR"),
            os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.realpath(os.path.join(d, "spark-submit"))
        dirs.append(os.path.join(os.path.dirname(os.path.dirname(submit)),
                                 "jars"))
    for d in filter(None, dirs):
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return sorted(glob.glob(os.path.join(d, "*.jar")))
    raise SystemExit("no Spark jars found: set SPARK_HOME")


def _sources(root, sub):
    return sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"),
                            recursive=True))


def _scalac(jars, sources, out, extra_cp=()):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-Ybackend-parallelism", "4",
           "-classpath", ":".join(list(jars) + list(extra_cp)),
           "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"scalac failed on {len(sources)} sources")


def build(root="."):
    """Compile if needed; returns the run-time classpath entries."""
    main_src = _sources(root, "src/main/scala")
    bench_src = _sources(root, "perfbench/scala")
    if not main_src or not bench_src:
        raise SystemExit("no engine or harness sources: run from the root "
                         "of a checkout")
    jars = spark_classpath()
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    base = os.path.join(root, BUILD)
    main_out = os.path.join(base, "classes", "main")
    bench_out = os.path.join(base, "classes", "bench")
    stamp_file = os.path.join(base, "classes", "STAMP")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(os.path.join(base, "classes"), ignore_errors=True)
        _scalac(jars, main_src, main_out)
        _scalac(jars, bench_src, bench_out, extra_cp=[main_out])
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return [os.path.abspath(bench_out), os.path.abspath(main_out)] + jars


if __name__ == "__main__":
    build()
