#!/usr/bin/env python3
"""Build file of the Cell KN benchmark.

Compiles the program (``src/main/scala`` and its resources) together with
the benchmark driver (``cellkn_bench/src``) with the Scala compiler that
ships in the Spark distribution (``$SPARK_HOME``, else the jars directory
the project's ``build.sbt`` compiles against), into
``cellkn_bench/out/build/<source hash>/classes``. A build whose sources
are unchanged is reused. Run it directly to build without running:

    python3 cellkn_bench/build.py
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out", "build")


def run_seconds():
    """The run length BENCHMARK.json sets (run_seconds), the scripts' default."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def spark_jars():
    """Jars of the Spark distribution at $SPARK_HOME, else of the jars
    directory the project's build.sbt compiles against (unmanagedBase)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars_dir = os.path.join(home, "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {jars_dir}")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise SystemExit("build: no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    resources = os.path.join(ROOT, "src", "main", "resources")
    res = sorted(p for p in glob.glob(os.path.join(resources, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return program + bench, resources, res


def build():
    """Return the classes directory, compiling first when needed."""
    srcs, resources, res = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    dest = os.path.join(OUT, h.hexdigest()[:16])
    classes = os.path.join(dest, "classes")
    if os.path.exists(os.path.join(dest, "ok")):
        return classes
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(tmp, "classes"),
           "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-8000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("build: compilation failed")
    for p in res:
        target = os.path.join(tmp, "classes", os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copyfile(p, target)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return classes


if __name__ == "__main__":
    print(build())
