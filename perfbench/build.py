"""Build file of the perfbench package.

Compiles the program (every Scala source under src/main/scala) and then
the benchmark's own sources under perfbench/src, with the Scala compiler
that ships in Spark's jar directory. sbt and build.sbt are not involved.
Outputs land in .bench_build/perfbench/<digest>/, where the digest covers
every input source, so a checkout builds once and later runs reuse it.

    python3 perfbench/build.py      # prints the classpath it built
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt names."""
    jars_dir = None
    if os.environ.get("SPARK_HOME"):
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars_dir = m and m.group(1)
    if not jars_dir or not os.path.isdir(jars_dir):
        raise SystemExit("perfbench: no Spark jar directory; set SPARK_HOME")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                  if j.endswith(".jar"))


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(paths, jars):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out_dir, sources, log):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = out_dir + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", os.pathsep.join(classpath), "@" + args_file]
    with open(log, "a") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"perfbench: scalac failed (exit {rc}) on {out_dir}")


def build():
    """Compile if needed; return the runtime classpath as a list."""
    program = scala_sources(PROGRAM_SRC)
    bench = scala_sources(BENCH_SRC)
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    if not bench:
        raise SystemExit("perfbench: no benchmark sources under perfbench/src")
    jars = spark_jars()
    out = os.path.join(BUILD_ROOT, digest(program + bench, jars))
    main_dir, bench_dir = os.path.join(out, "main"), os.path.join(out, "bench")
    done = os.path.join(out, "ok")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        log = os.path.join(out, "scalac.log")
        scalac(jars, jars, main_dir, program, log)
        scalac(jars, jars + [main_dir], bench_dir, bench, log)
        open(done, "w").close()
    return [bench_dir, main_dir] + jars


if __name__ == "__main__":
    print(os.pathsep.join(build()))
