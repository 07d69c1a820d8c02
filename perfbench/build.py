"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) into .bench_build with the Scala compiler that
ships in Spark's jars directory. Each part is rebuilt only when a hash of
its sources changes.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    """The jars directory of the Spark install: $SPARK_HOME, else the one
    whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = pathlib.Path(home or ".") / "jars"
    if not home or not jars.is_dir():
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def scala_jar(jars, name):
    found = sorted(jars.glob(f"scala-{name}-2.13*.jar"))
    if not found:
        raise SystemExit(f"build: no scala-{name} jar in {jars}")
    return found[-1]


def sources_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_part(root, name, src_dirs, classpath, resources=None):
    """Compile the .scala files under src_dirs into .bench_build/<name>."""
    files = sorted(f for d in src_dirs for f in (root / d).rglob("*.scala"))
    if not files:
        raise SystemExit(f"build: no Scala sources under {', '.join(map(str, src_dirs))}")
    out = root / BUILD_DIR / name
    stamp = sources_hash(files + (sorted(resources.rglob("*")) if resources else []))
    stamp_file = out / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    jars = spark_jars()
    tmp = root / BUILD_DIR / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = root / BUILD_DIR / f"{name}.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    compiler = os.pathsep.join(str(scala_jar(jars, p)) for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-cp", os.pathsep.join(classpath + [str(jars / "*")]), f"@{argfile}"]
    print(f"build: compiling {len(files)} files into {out}", file=sys.stderr, flush=True)
    if subprocess.run(cmd, cwd=root).returncode != 0:
        raise SystemExit(f"build: compiling {name} failed")
    if resources and resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


def build(root):
    """Returns the runtime classpath entries of the engine and the benchmark."""
    root = pathlib.Path(root)
    engine = compile_part(root, "engine", ["src/main/scala"], [],
                          resources=root / "src/main/resources")
    bench = compile_part(root, "bench", ["perfbench/src"], [str(engine)])
    return [str(engine), str(bench), str(spark_jars() / "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build(pathlib.Path.cwd())))
