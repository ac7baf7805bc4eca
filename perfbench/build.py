"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` and `src/main/resources` of the
checkout) together with the benchmark's own Scala sources
(`perfbench/scala`) into one class directory under `.bench_build/perfbench`.
The Scala compiler and every dependency come from the Spark distribution
named by `SPARK_HOME` (its `jars/` holds scala-compiler, scala-library and
Spark itself), so the build needs no dependency resolution and writes
nothing outside the checkout.

The build is keyed by a digest of every input file; an unchanged tree is
not recompiled.

    python3 perfbench/build.py          # prints the class directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT = ROOT / ".bench_build" / "perfbench"
ENGINE_SOURCES = ROOT / "src" / "main" / "scala"
ENGINE_RESOURCES = ROOT / "src" / "main" / "resources"
BENCH_SOURCES = BENCH_DIR / "scala"

# JDK 17 module opens Spark needs outside spark-submit (the same list the
# engine's own build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("SPARK_HOME is not set and spark-submit is not on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def _inputs() -> list:
    if not ENGINE_SOURCES.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SOURCES}")
    files = sorted(ENGINE_SOURCES.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))
    if ENGINE_RESOURCES.is_dir():
        files += sorted(p for p in ENGINE_RESOURCES.rglob("*") if p.is_file())
    return files


def _digest(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    h.update(Path(__file__).read_bytes())
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def java_command(classpath: str, heap: str) -> list:
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{heap}", "-XX:-UsePerfData", *opens, "-cp", classpath]


def build() -> Path:
    """Compile if the inputs changed; return the class directory."""
    jars = spark_jars()
    files = _inputs()
    stamp = OUT / "classes.sha256"
    classes = OUT / "classes"
    key = _digest(files, jars)
    if stamp.is_file() and stamp.read_text() == key and classes.is_dir():
        return classes
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    sources = [str(p) for p in files if p.suffix == ".scala"]
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(sources) + "\n")
    compile_cp = os.pathsep.join(str(p) for p in sorted(jars.glob("*.jar")))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", compile_cp, f"@{argfile}"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    if ENGINE_RESOURCES.is_dir():
        shutil.copytree(ENGINE_RESOURCES, classes, dirs_exist_ok=True)
    stamp.write_text(key)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
