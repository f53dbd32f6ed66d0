#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program (src/main/scala) and then the harness (perfbench/src)
with the Scala compiler that ships among the project's Spark jars (the
directory build.sbt names as `unmanagedBase`, or $SPARK_HOME/jars).
Classes go to .bench_build/perfbench/; each part is rebuilt only when a
source file or the jar directory changed.

    python3 perfbench/build.py        # build, print the class path
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def jar_dir():
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources(base):
    return sorted(p for p in base.rglob("*.scala") if p.is_file())


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_part(name, srcs, jars, classpath, stamp_extra):
    """Compile `srcs` into OUT/name unless its stamp matches."""
    out = OUT / name
    stamp = digest(srcs, stamp_extra + "|" + ":".join(str(c) for c in classpath))
    stamp_file = OUT / (name + ".stamp")
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out, stamp
    tmp = OUT / (name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / (name + ".args")
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + str(OUT),
           "-cp", str(jars) + "/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)]
    if classpath:
        cmd += ["-classpath", os.pathsep.join(str(c) for c in classpath)]
    cmd.append("@" + str(argfile))
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{proc.stdout[-4000:]}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)
    return out, stamp


def build():
    """Returns (class path entries, program source digest)."""
    program_src = ROOT / "src" / "main" / "scala"
    if not program_src.is_dir():
        raise BuildError(f"program sources not found under {program_src.relative_to(ROOT)}")
    jars = jar_dir()
    OUT.mkdir(parents=True, exist_ok=True)
    listing = ",".join(sorted(p.name for p in jars.glob("*.jar")))
    program, program_digest = compile_part(
        "program", sources(program_src), jars, [], listing)
    harness, _ = compile_part(
        "harness", sources(ROOT / "perfbench" / "src"), jars, [program],
        listing + "|" + program_digest)
    return [str(jars) + "/*", str(program), str(harness)], program_digest


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(os.pathsep.join(cp))
