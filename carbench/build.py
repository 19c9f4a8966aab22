"""Builds the engine (src/main) and the benchmark driver (carbench/scala)
into one classes dir with the Scala compiler that ships in Spark's jars.

    python3 carbench/build.py            # prints the classes dir

The output lands under $CARGO_TARGET_DIR (default .bench_build) in the
current directory, keyed by a digest of every source file, so an unchanged
tree is compiled once.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys



def build_root():
    return os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "carbench")


def spark_home():
    """$SPARK_HOME, else the first Spark install (a dir with bin/spark-submit
    and jars/) found through the PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar")))
    if not jars:
        raise SystemExit("no Spark jars found: set SPARK_HOME or put spark-submit on the PATH")
    return jars


def sources():
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                  glob.glob("carbench/scala/*.scala"))
    if not any(s.startswith("src/main/") for s in srcs):
        raise SystemExit("no engine sources under src/main/scala: run from the repository root")
    return srcs


def build():
    """Returns the classpath entries (classes dir, resources) of the build."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_root(), "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "BUILT")):
        for old in glob.glob(os.path.join(build_root(), "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        listing = os.path.join(out, "sources.txt")
        with open(listing, "w") as f:
            f.write("\n".join(srcs))
        jars = spark_jars()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main", "-nowarn",
             "-d", out, "-classpath", os.pathsep.join(jars), "@" + listing],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            raise SystemExit("compilation failed")
        open(os.path.join(out, "BUILT"), "w").close()
    return [out, "src/main/resources"]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
