#!/usr/bin/env python3
"""Build file of the maintenance benchmark.

Compiles the engine (src/main/scala) together with the benchmark client
(maintbench/src) with the Scala compiler that ships in Spark's jars, into
.bench_build/classes-<hash of the sources>. A build whose sources are
unchanged is reused. Run from anywhere: python3 maintbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    """Spark's jar dir: $SPARK_HOME/jars, else the repo build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    sys.exit("maintbench: Spark jars not found (set SPARK_HOME)")


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit(f"maintbench: engine sources missing under {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((ROOT / "maintbench" / "src").rglob("*.scala"))
    return files


def build() -> Path:
    """Returns the classes dir, compiling first if the sources changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    jars = spark_jars()
    tmp = BUILD / f"tmp-classes-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-cp", cp, "-d", str(tmp)] + [str(f) for f in files]
    print(f"maintbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"maintbench: compile failed ({r.returncode})")
    (tmp / ".done").touch()
    try:
        tmp.rename(out)
    except OSError:  # a concurrent build of the same sources finished first
        if not (out / ".done").exists():
            raise
        shutil.rmtree(tmp)
    return out


if __name__ == "__main__":
    print(build())
