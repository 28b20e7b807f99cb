"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) from source with the Scala compiler that ships in
the Spark distribution, packs them into .bench_build/app.jar, and records a
class-data-sharing archive (.bench_build/app.jsa) from one tiny run of the
ETL and lake workloads, so each benchmark JVM starts from pre-parsed
classes. A stamp of the sources skips all of it when nothing changed.

Usage: python3 perfbench/build.py        (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
SOURCES = ["src/main/scala", "perfbench/src"]
HEAP = "2g"
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def path(name):
    return os.path.abspath(os.path.join(BUILD, name))


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the ones the
    pyspark package ships."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = "."
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    files = sorted(f for root in SOURCES
                   for f in glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not any(f.startswith("src/main/scala") for f in files):
        sys.exit("build: src/main/scala is missing; run from the repository root")
    return files


def java_cmd(work, archive="use"):
    """The harness JVM: fixed heap, the JDK 17 module opens Spark needs,
    and the class-data-sharing archive (`archive="dump"` records it)."""
    cds = {"use": f"-XX:SharedArchiveFile={path('app.jsa')}",
           "dump": f"-XX:ArchiveClassesAtExit={path('app.jsa')}"}[archive]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", cds,
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{path('app.jar')}:{spark_jars()}/*", "perfbench.Harness"]


def run(cmd, what, **kw):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, **kw)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build: {what} failed ({r.returncode})")


def compile_jar(files):
    classes = path("classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = path("scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    jars = spark_jars()
    run(["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", f"{jars}/*", f"@{args}"], "scalac")
    run(["jar", "cf", path("app.jar"), "-C", classes, "."], "jar")
    shutil.rmtree(classes)


def dump_archive():
    """One tiny traced run of the ETL and lake workloads in one JVM,
    recording the classes they load (Spark core, SQL, Parquet, CSV, the
    harness). Adding the training rows made the build 50 s longer without
    a measurable gain on train_curate."""
    import gen_tables
    work = path("cds-training")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen_tables.write(os.path.join(work, "tables"), 0.001, 1)
    args = {"workload": "etl_medallion,lake_sql", "seed": 1, "seconds": 0,
            "trace": 1, "work": work, "out": os.path.join(work, "out.json"),
            "spans": os.path.join(work, "spans.json"),
            "tables": os.path.join(work, "tables"), "setup_repeats": 1, "days": 2,
            "rows_per_day": 2000, "ops_per_round": 1, "template_repeats": 1}
    cmd = java_cmd(work, archive="dump")
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    run(cmd, "class-data-sharing training run", cwd=work)
    shutil.rmtree(work)


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = path("BUILD_STAMP")
    done = [stamp, path("app.jar"), path("app.jsa")]
    if all(map(os.path.exists, done)):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                return
    for f in done:
        if os.path.exists(f):
            os.remove(f)
    os.makedirs(BUILD, exist_ok=True)
    compile_jar(files)
    dump_archive()
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    build()
