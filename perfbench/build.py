"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's JVM side (perfbench/src) with the Scala compiler that
ships in the Spark jar directory the repository's build.sbt names.

    python3 perfbench/build.py          # prints the run-time classpath

Outputs go to .bench_build/classes; a build is reused while no source
file changed (keyed by a hash of every source file).
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "classes"


def spark_jars():
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m and "SPARK_HOME" not in os.environ:
        raise SystemExit("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    jars = Path(m.group(1)) if m else Path(os.environ["SPARK_HOME"]) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler in {jars}")
    return jars


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _digest(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _scalac(files, out, classpath):
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.parent / f"{out.name}.args"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out), "-classpath", classpath,
           f"@{argfile}"]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build():
    """Compiles what changed; returns the run-time classpath."""
    main_src = _sources(ROOT / "src" / "main" / "scala")
    bench_src = _sources(Path(__file__).resolve().parent / "src")
    if not main_src:
        raise SystemExit("no program sources under src/main/scala")
    jars = str(spark_jars() / "*")
    main_out, bench_out = OUT / "main", OUT / "bench"
    stamp = OUT / "STAMP"
    key = _digest(main_src) + _digest(bench_src)
    if not (stamp.exists() and stamp.read_text() == key):
        stamp.unlink(missing_ok=True)
        for d in (main_out, bench_out):
            subprocess.run(["rm", "-rf", str(d)], check=True)
        _scalac(main_src, main_out, jars)
        _scalac(bench_src, bench_out, f"{main_out}:{jars}")
        stamp.write_text(key)
    return f"{bench_out}:{main_out}:{jars}"


if __name__ == "__main__":
    print(build())
