"""Build file of the benchmark package: compiles graft's sources
(``src/main/scala``) together with the benchmark harness
(``perfbench/src``) into one class directory, with the Scala compiler
that ships in Spark's jar directory (``$SPARK_HOME/jars``, else the
directory graft's ``build.sbt`` takes its jars from). No sbt, no
dependency resolution: everything on the classpath is Spark's own jars.

``python3 perfbench/build.py [BUILD_DIR]`` builds once; the class
directory is reused until a source file changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "src"]


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = sbt.is_file() and re.search(r'unmanagedBase := file\("([^"]+)"\)', sbt.read_text())
        jars = Path(m.group(1)) if m else None
    if jars is None or not jars.is_dir():
        raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")
    return jars


def classpath(classes: Path) -> str:
    return f"{classes}{os.pathsep}{spark_jars() / '*'}"


def _sources() -> list:
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"perfbench: graft sources not found under {ROOT}/src/main/scala")
    return sorted(p for d in SOURCES for p in d.rglob("*.scala"))


def build(build_dir: Path) -> Path:
    """Compile if any source changed; return the class directory."""
    files = _sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()[:16]
    classes = build_dir / f"classes-{stamp}"
    if (classes / ".complete").exists():
        return classes
    tmp = build_dir / f"classes-{stamp}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars] + [str(f) for f in files]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    (tmp / ".complete").touch()
    for old in build_dir.glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build(Path(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build").resolve()))
