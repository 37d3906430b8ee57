"""Builds the program (src/main) and the benchmark harness (perfbench/src)
with the Scala compiler that ships among the Spark jars, and caches the
classes under a key made from the content of every source file.

    python3 perfbench/build.py          # build into .bench_build/perfbench/<key>

run.py calls ensure() before every run; a cached build is reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def jars_dir():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    d = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars found (looked in {d!r}; set SPARK_HOME)")
    return d


def build_root(root):
    """Where builds and run directories live: $CARGO_TARGET_DIR, else
    .bench_build, resolved inside the checkout."""
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def _files(root):
    main = os.path.join(root, "src", "main")
    scala = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    if not scala:
        raise SystemExit(f"perfbench: no program sources under {main}")
    resources = sorted(p for p in glob.glob(os.path.join(main, "resources", "**"), recursive=True)
                       if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return scala, resources, bench


def source_key(root):
    scala, resources, bench = _files(root)
    h = hashlib.sha256()
    for p in scala + resources + bench + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()[:20]


def _scalac(jars, out, classpath, files):
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}_*.jar")) or
                glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar")) for n in
                ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit(f"perfbench: no Scala compiler among {jars}")
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed ({len(files)} files into {out})")


def ensure(root):
    """Returns the classpath entries of a build of this checkout,
    compiling first if no cached build matches the sources."""
    scala, resources, bench = _files(root)
    jars = jars_dir()
    out = os.path.join(build_root(root), "build-" + source_key(root))
    main_cls, bench_cls = os.path.join(out, "main"), os.path.join(out, "bench")
    if not os.path.exists(os.path.join(out, "ok")):
        os.makedirs(build_root(root), exist_ok=True)
        stage = tempfile.mkdtemp(dir=build_root(root), prefix="staging-")
        try:
            t0 = time.time()
            jar_cp = os.path.join(jars, "*")
            _scalac(jars, os.path.join(stage, "main"), jar_cp, scala)
            res_root = os.path.join(root, "src", "main", "resources")
            for p in resources:
                dst = os.path.join(stage, "main", os.path.relpath(p, res_root))
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copyfile(p, dst)
            _scalac(jars, os.path.join(stage, "bench"),
                    os.path.join(stage, "main") + ":" + jar_cp, bench)
            with open(os.path.join(stage, "ok"), "w") as f:
                f.write(f"{time.time() - t0:.1f}\n")
            shutil.rmtree(out, ignore_errors=True)
            os.rename(stage, out)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
    return [main_cls, bench_cls, os.path.join(jars, "*")]


if __name__ == "__main__":
    print(":".join(ensure(os.getcwd())))
