"""Build file of the benchmark package: compiles the program
(`src/main/scala`, plus `src/main/resources`) and the harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jars.

Spark is found through `SPARK_HOME`, else through `spark-submit` on the
PATH. Outputs go to `.bench_build/` at the root of the checkout; a stamp
of the sources skips the compile when nothing changed.

    python3 perfbench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise BuildError("no Spark with a Scala compiler found: set SPARK_HOME "
                         "or put spark-submit on the PATH")
    return jars


def _sources(root, suffix=".scala"):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                  for f in fs if f.endswith(suffix))


def _stamp(jars):
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    files = _sources(PROGRAM_SRC) + _sources(BENCH_SRC) + _sources(PROGRAM_RES, "")
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, sources, dest):
    cp = os.pathsep.join(jars)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx1536m", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", dest,
           "-classpath", os.pathsep.join(classpath + jars)]
    proc = subprocess.run(cmd + sources, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed on {len(sources)} files:\n{proc.stdout[-4000:]}")


def build():
    """Compile if needed; return the runtime classpath entries."""
    if not os.path.isdir(PROGRAM_SRC) or not _sources(PROGRAM_SRC):
        raise BuildError(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    jars = spark_jars()
    program, bench = os.path.join(OUT, "program"), os.path.join(OUT, "bench")
    stamp_file = os.path.join(OUT, "stamp")
    stamp = _stamp(jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return [bench, program, os.path.join(os.path.dirname(jars[0]), "*")]
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(program)
    os.makedirs(bench)
    _scalac(jars, [], _sources(PROGRAM_SRC), program)
    if os.path.isdir(PROGRAM_RES):
        shutil.copytree(PROGRAM_RES, program, dirs_exist_ok=True)
    _scalac(jars, [program], _sources(BENCH_SRC), bench)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return [bench, program, os.path.join(os.path.dirname(jars[0]), "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
