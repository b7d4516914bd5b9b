"""Builds the program and the benchmark from source with the Scala compiler
that ships in Spark's jar directory, so no build tool or network is needed.

Outputs go under <build dir>/replaybench/{program,bench}; each step is skipped
when a hash of its sources and compiler matches the previous build.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SCALA = "2.13.17"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars of the Spark whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not (jars / f"scala-compiler-{SCALA}.jar").is_file():
        raise SystemExit(f"Spark jars with scala-compiler-{SCALA} not found in {jars}; set SPARK_HOME")
    return jars


def _sources(*dirs: Path) -> list:
    files = []
    for d in dirs:
        files += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return files


def _stamp(files: list, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(name: str, files: list, classpath: str, out: Path, jars: Path) -> None:
    stamp_file = out.parent / f"{name}.stamp"
    stamp = _stamp(files, classpath + SCALA)
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    out.mkdir(parents=True, exist_ok=True)
    for old in out.rglob("*.class"):
        old.unlink()
    args = out.parent / f"{name}.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    compiler = os.pathsep.join(str(jars / f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect"))
    print(f"replaybench: compiling {name} ({len(files)} files)", file=sys.stderr, flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(out), "-cp", classpath, f"@{args}"]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit(f"replaybench: compiling {name} failed")
    stamp_file.write_text(stamp)


def ensure(root: Path, build_dir: Path) -> str:
    """Compiles what changed; returns the run classpath."""
    jars = spark_jars()
    base = build_dir / "replaybench"
    program = base / "program"
    bench = base / "bench"
    spark_cp = str(jars / "*")
    _compile("program", _sources(root / "src" / "main" / "scala"), spark_cp, program, jars)
    here = Path(__file__).resolve().parent
    _compile("bench", _sources(here / "src", here / "test"),
             os.pathsep.join([str(program), spark_cp]), bench, jars)
    return os.pathsep.join([str(bench), str(program), spark_cp])
