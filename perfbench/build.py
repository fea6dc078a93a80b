#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala at the repository root)
together with the benchmark's own (perfbench/src) with the Scala compiler
that ships in the Spark distribution the program runs on, packs them into
perfbench/.build/perfbench.jar, and then runs a short training run
(perfbench.Train) that dumps a class-data-sharing archive
(perfbench/.build/app.jsa) for the benchmark JVMs to start from.

A stamp over every source file's path and content skips all of this when
nothing changed. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
OUT = HERE / ".build"
JAR = OUT / "perfbench.jar"
ARCHIVE = OUT / "app.jsa"
STAMP = OUT / "stamp"
WORK = HERE / ".work"
TRAIN_LIMIT_S = 400

# Spark on JDK 17 outside spark-submit needs these
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars() -> list:
    """The jars of the Spark distribution ($SPARK_HOME, else the one that
    holds spark-submit on PATH), in a fixed order."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = sorted((Path(home) / "jars").glob("*.jar")) if home else []
    if not any(j.name.startswith("scala-compiler-") for j in jars):
        sys.exit("build: no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def jvm(main: str, heap: str, extra=()) -> list:
    """The command line of a benchmark JVM running `main`."""
    cmd = [java(), *extra, "-XX:-UsePerfData", f"-Xmx{heap}", "-Xss4m", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           f"-Dperfbench.work={WORK}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    return cmd + ["-cp", os.pathsep.join(map(str, [JAR] + spark_jars())), main]


def jvm_env() -> dict:
    """The benchmark JVM's environment: Spark must not take its scratch
    directories from the caller's environment, they stay in the checkout."""
    return {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}


def sources() -> list:
    if not (PROGRAM_SRC / "graft").is_dir():
        sys.exit(f"build: program sources not found at {PROGRAM_SRC}")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def stamp() -> str:
    h = hashlib.sha256()
    for f in [Path(__file__).resolve()] + sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(str([j.name for j in spark_jars()]).encode())
    return h.hexdigest()


def compile_jar(srcs: list) -> None:
    classes = OUT / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cp = os.pathsep.join(map(str, spark_jars()))
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run([java(), "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-classpath", cp, "-d", str(classes)] + [str(f) for f in srcs],
                   check=True, stdout=sys.stderr)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, str(f.relative_to(classes)))
    shutil.rmtree(classes)


def train_archive() -> None:
    """Dumps the class-data-sharing archive. A build without it fails: the
    archive halves JVM and session start, so set-up times taken with and
    without it are not comparable."""
    print("build: training run for the class-data-sharing archive", file=sys.stderr, flush=True)
    cmd = jvm("perfbench.Train", "2g", [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    try:
        ok = subprocess.run(cmd, stdout=subprocess.DEVNULL, env=jvm_env(), timeout=TRAIN_LIMIT_S).returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    if not ok or not ARCHIVE.is_file():
        ARCHIVE.unlink(missing_ok=True)
        sys.exit("build: the class-data-sharing training run failed")


def build() -> bool:
    """Builds if any source changed; returns whether it did."""
    srcs = sources()
    want = stamp()
    if JAR.is_file() and ARCHIVE.is_file() and STAMP.is_file() and STAMP.read_text() == want:
        return False
    OUT.mkdir(parents=True, exist_ok=True)
    STAMP.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    compile_jar(srcs)
    train_archive()
    STAMP.write_text(want)
    return True


if __name__ == "__main__":
    build()
