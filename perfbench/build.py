"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships among
Spark's jars, so no build tool and no network is needed.

Outputs go under $CARGO_TARGET_DIR (default .bench_build) and are
reused while the hash of every input source file is unchanged. The
classes are packed into jars, because the JVM's class-data sharing
archive (made by run.py) only covers classes loaded from jars.

    python3 perfbench/build.py          # build, print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_homes():
    """Where Spark may be: $SPARK_HOME, the install behind spark-submit on
    PATH, the pyspark package."""
    if os.environ.get("SPARK_HOME"):
        yield os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if submit:
        yield os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    try:
        import pyspark
        yield os.path.dirname(pyspark.__file__)
    except ImportError:
        pass


def spark_jars():
    """Spark's jars, from the first home that has them and a Scala compiler."""
    for home in spark_homes():
        jars_dir = os.path.join(home, "jars")
        if os.path.isdir(jars_dir):
            jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
            if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
                return jars
    raise BuildError("no Spark jars with a Scala compiler found: set SPARK_HOME")


def scala_files(root):
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def tree_hash(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out_dir, sources, log):
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", os.pathsep.join(classpath)] + sources
    with open(log, "w") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        with open(log) as lf:
            tail = lf.read()[-4000:]
        raise BuildError("scalac failed (%d) for %s:\n%s" % (r.returncode, out_dir, tail))


def stage(name, sources, jars, classpath, extra=""):
    """Compile `sources` into build/<name>/classes unless up to date."""
    base = os.path.join(build_dir(), name)
    classes = os.path.join(base, "classes")
    stamp = os.path.join(base, "stamp")
    digest = tree_hash(sources, extra)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(base, exist_ok=True)
    scalac(jars, classpath, classes, sources, os.path.join(base, "scalac.log"))
    with open(stamp, "w") as f:
        f.write(digest)
    return classes, digest


def pack(src_dir, jar):
    """Pack the files under src_dir into a jar."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(src_dir):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, src_dir))
    os.replace(tmp, jar)


def jars_of(dirs, digest):
    """One jar per directory, remade when the digest changes."""
    base = os.path.join(build_dir(), "jars")
    stamp = os.path.join(base, "stamp")
    out = [os.path.join(base, name + ".jar") for name, _ in dirs]
    if not (os.path.exists(stamp) and open(stamp).read() == digest and all(map(os.path.exists, out))):
        os.makedirs(base, exist_ok=True)
        for (_, d), jar in zip(dirs, out):
            pack(d, jar)
        with open(stamp, "w") as f:
            f.write(digest)
    return out, digest


def build():
    """Build graft and the harness; return the runtime classpath and a
    digest of everything on it that was built here."""
    if not os.path.isdir(PROGRAM_SRC) or not scala_files(PROGRAM_SRC):
        raise BuildError("program sources not found under %s" % PROGRAM_SRC)
    if not os.path.isdir(PROGRAM_RES):
        raise BuildError("program resources not found under %s" % PROGRAM_RES)
    jars = spark_jars()
    graft, digest = stage("graft", scala_files(PROGRAM_SRC), jars, jars)
    res_digest = tree_hash(sorted(os.path.join(d, f) for d, _, fs in os.walk(PROGRAM_RES) for f in fs))
    bench, bench_digest = stage("harness", scala_files(BENCH_SRC), jars, [graft, PROGRAM_RES] + jars,
                                extra=digest)
    packed, digest = jars_of([("harness", bench), ("graft", graft), ("resources", PROGRAM_RES)],
                             bench_digest + res_digest)
    return packed + jars, digest


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()[0]))
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
