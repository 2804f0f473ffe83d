"""Build file of the benchmark package: compiles graft's main sources
together with the benchmark's own sources into one class directory.

It drives the Scala compiler that ships with Spark directly (no sbt), so
a build reads nothing but the sources, the JDK and Spark's jars, and
writes only under the build directory. A build is reused while the
sources it was made from are unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def build_dir():
    # CARGO_TARGET_DIR names the build directory when it is set
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no jars directory under {home}")
    return jars


def _one(jars, prefix):
    found = sorted(glob.glob(os.path.join(jars, prefix + "-2.13.*.jar")))
    if not found:
        raise BuildError(f"{prefix} jar not found in {jars}")
    return found[-1]


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src", "main", "scala"),
            os.path.join(HERE, "src", "test", "scala")]
    files = []
    for d in dirs:
        found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
        if not found:
            raise BuildError(f"no Scala sources under {d}")
        files += found
    return files


def stamp_of(classes):
    """The source digest the class directory was built from."""
    with open(classes + ".stamp") as fh:
        return fh.read().strip()


def ensure_built():
    """Compile if needed (the self-tests too); return the class directory."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    digest.update(_one(jars, "scala-compiler").encode())
    stamp = digest.hexdigest()
    name = "classes"
    out = os.path.join(build_dir(), name)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler_cp = os.pathsep.join(_one(jars, p) for p in
                                  ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = os.path.join(build_dir(), name + ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return out
