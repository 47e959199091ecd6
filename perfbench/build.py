"""Builds the engine (src/main) and the benchmark (perfbench/src) from source.

Classes go under the build directory (CARGO_TARGET_DIR, else .bench_build),
one directory per stage, each stamped with a hash of its inputs so an
unchanged stage is not compiled again. Spark, and the Scala compiler that
ships with it, come from SPARK_HOME (else from the spark-submit on PATH).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(sources, resources_dir, classpath, out, stamp, jars):
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join([os.path.join(jars, "*")] + classpath)
    cmd = ["java", "-Xss4m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + sources
    print(f"perfbench: compiling {len(sources)} sources into {out}", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    if resources_dir and os.path.isdir(resources_dir):
        shutil.copytree(resources_dir, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def build(root):
    """Compiles both stages if needed; returns the runtime classpath."""
    main_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main_src:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a full checkout")
    jars = spark_jars()
    out = build_dir(root)
    resources = os.path.join(root, "src/main/resources")
    res_files = sorted(p for p in glob.glob(os.path.join(resources, "**/*"), recursive=True)
                       if os.path.isfile(p))
    main_stamp = _stamp(main_src + res_files)
    main_out = os.path.join(out, "classes-main")
    _compile(main_src, resources, [], main_out, main_stamp, jars)

    bench_src = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    bench_out = os.path.join(out, "classes-bench")
    _compile(bench_src, None, [main_out], bench_out, _stamp(bench_src, main_stamp), jars)
    return os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")])


if __name__ == "__main__":
    build(os.getcwd())
