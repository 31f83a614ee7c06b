"""Build file of the benchmark: compiles the engine (src/main) and the
benchmark harness (perfbench/scala) with the Scala compiler that ships in
the Spark distribution ($SPARK_HOME/jars, else the jar directory named by
the project's build.sbt), into .bench_build/classes. A build is skipped when
a stamp of its sources is unchanged.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")


class BuildError(Exception):
    pass


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _stamp(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(sources, classpath, out, log, jars):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + sources
    with open(log, "w") as f:
        rc = subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            raise BuildError("scalac failed (%d):\n%s" % (rc, f.read()[-3000:]))
    return tmp


def _compiled(name, sources, classpath, stamp, jars, resources=None):
    out = os.path.join(BUILD, "classes", name)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = _scalac(sources, classpath, out, os.path.join(BUILD, "build-%s.log" % name), jars)
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's build.sbt
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                          open(sbt).read())
    if not m:
        raise BuildError("set SPARK_HOME: no unmanagedBase in %s" % sbt)
    return m.group(1)


def build():
    """Returns the runtime classpath; raises BuildError when the sources
    or the toolchain are missing or do not compile."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("engine sources not found at %s" % ENGINE_SRC)
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise BuildError("Spark jars not found at %s" % jars)
    os.makedirs(os.path.join(BUILD, "classes"), exist_ok=True)
    spark_cp = os.path.join(jars, "*")
    engine_files = _files(ENGINE_SRC, ".scala")
    engine_stamp = _stamp(engine_files + _files(ENGINE_RES))
    engine = _compiled("engine", engine_files, spark_cp, engine_stamp, jars, ENGINE_RES)
    bench_files = _files(BENCH_SRC, ".scala")
    bench = _compiled("bench", bench_files, engine + os.pathsep + spark_cp,
                      _stamp(bench_files, engine_stamp), jars)
    return os.pathsep.join([bench, engine, spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
