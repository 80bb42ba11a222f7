#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/scala`) with the Scala compiler that ships in the
Spark distribution (see `spark_jars`), into `$CARGO_TARGET_DIR/perfbench`
(default `.bench_build/perfbench`) under the checkout root. A stamp of the source
digest makes a rebuild a no-op when nothing changed.

Usage: python3 perfbench/build.py            (from the checkout root)
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def spark_jars() -> str:
    """The jars of the Spark distribution: `$SPARK_HOME`, else the first
    distribution on PATH (a `bin/spark-submit` next to a `jars` directory)."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").exists()]
    for home in homes:
        if (home / "jars").is_dir():
            return str(home / "jars" / "*")
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


def out_dir() -> Path:
    target = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not target.is_absolute():
        target = ROOT / target
    return target / "perfbench"


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench: missing source directory {missing[0]}")
    return sorted(str(p) for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def java_flags(work: Path) -> list:
    """Keep the JVM's scratch files (perf data, temp files) in `work`."""
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]


def build() -> Path:
    """Compile if the sources changed since the last build; return the
    classes directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        digest.update(Path(s).read_bytes())
    stamp_value = digest.hexdigest()
    out = out_dir()
    classes = out / "classes"
    stamp = out / "stamp"
    if stamp.exists() and stamp.read_text() == stamp_value and classes.is_dir():
        return classes
    tmp = out / "tmp"
    classes_new = out / "classes.new"
    for d in (tmp, classes_new):
        subprocess.run(["rm", "-rf", str(d)], check=True)
        d.mkdir(parents=True)
    cmd = (["java", "-Xmx2g", "-Xss8m"] + java_flags(tmp) +
           ["-cp", spark_jars(), "scala.tools.nsc.Main", "-nowarn",
            "-d", str(classes_new), "-classpath", spark_jars()] + srcs)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    subprocess.run(["rm", "-rf", str(classes), str(tmp)], check=True)
    classes_new.rename(classes)
    stamp.write_text(stamp_value)
    return classes


if __name__ == "__main__":
    print(build())
