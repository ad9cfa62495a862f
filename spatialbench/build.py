"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark program (spatialbench/src) using the Scala
compiler that ships with Spark and packs the classes into a jar, in a
content-addressed directory under .bench_build/; a build whose sources did
not change is reused. The first benchmark JVM of a build records a
class-data-sharing archive next to the jar, so every later JVM starts
without re-parsing Spark's classes.

    python3 spatialbench/build.py      # prints the build directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
OUT = ROOT / ".bench_build"
HEAP = ["-Xms2g", "-Xmx2g"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    project's build.sbt names as its unmanaged base."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SRC} (run from a full checkout)")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def java_cmd(build_dir: Path, tmpdir: Path) -> list:
    """The JVM command line of the benchmark program, up to its main class: it
    shares the build's class archive, or records one (as app.jsa.tmp) when
    there is none yet."""
    jsa = build_dir / "app.jsa"
    cmd = ["java", *HEAP, f"-Djava.io.tmpdir={tmpdir}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
           f"-XX:SharedArchiveFile={jsa}" if jsa.is_file() else f"-XX:ArchiveClassesAtExit={jsa}.tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([str(build_dir / "graftbench.jar"), str(spark_jars() / "*")]),
                  "graftbench.Main"]


def compile_jar(files: list, jars: Path, tmp: Path) -> None:
    compiler = [str(j) for pat in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")
                for j in jars.glob(pat)]
    if len(compiler) < 3:
        raise BuildError(f"Scala compiler jars not found in {jars}")
    classes = tmp / "classes"
    classes.mkdir()
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", os.pathsep.join(sorted(str(j) for j in jars.glob("*.jar"))), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(tmp / "graftbench.jar", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    argfile.unlink()


def build() -> Path:
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = OUT / f"build-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    OUT.mkdir(parents=True, exist_ok=True)
    for old in OUT.glob("build-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir()
    try:
        compile_jar(files, jars, out)
    except BuildError:
        shutil.rmtree(out, ignore_errors=True)
        raise
    (out / ".done").write_text("")
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
