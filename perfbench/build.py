"""Builds the benchmark: compiles the program's sources (src/main/scala)
together with the benchmark's own (perfbench/src) with the Scala compiler
that ships among the Spark jars, into a class directory keyed by a hash of
every source file. A build whose key already exists is reused."""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

PROGRAM_SOURCES = Path("src") / "main" / "scala"
BENCH_SOURCES = Path("perfbench") / "src"


class BuildError(Exception):
    pass


def spark_jars(root: Path) -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repo's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("Spark jars not found: set SPARK_HOME")


def sources(root: Path):
    program = sorted((root / PROGRAM_SOURCES).rglob("*.scala"))
    bench = sorted((root / BENCH_SOURCES).rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {root / PROGRAM_SOURCES}")
    if not bench:
        raise BuildError(f"no benchmark sources under {root / BENCH_SOURCES}")
    return program + bench


def ensure_built(root: Path, build_dir: Path) -> Path:
    """Returns the class directory, compiling first if needed."""
    jars = spark_jars(root)
    srcs = sources(root)
    compiler = sorted(p.name for p in jars.glob("scala-compiler-*.jar"))
    if not compiler:
        raise BuildError(f"no scala-compiler jar in {jars}")
    h = hashlib.sha256("|".join(compiler).encode())
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    out = build_dir / f"classes-{h.hexdigest()[:16]}"
    if (out / ".built").exists():
        return out
    tmp = build_dir / f"{out.name}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    argfile.unlink()
    (tmp / ".built").touch()
    try:
        tmp.rename(out)
    except OSError:  # built concurrently by another run
        shutil.rmtree(tmp, ignore_errors=True)
    return out
