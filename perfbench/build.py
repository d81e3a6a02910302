"""Build file of the benchmark: compiles the engine and the harness.

The engine (``src/main/scala``) and the harness (``perfbench/scala``) are
compiled with the Scala compiler that ships in Spark's jar directory, into
``.bench_build/classes``. A stamp of the source hashes skips the compile
when nothing changed. Run directly to build: ``python3 perfbench/build.py``.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "classes"
UNITS = {  # output dir -> source dir, in dependency order
    "engine": ROOT / "src" / "main" / "scala",
    "perfbench": ROOT / "perfbench" / "scala",
}


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    try:
        import pyspark
    except ImportError:
        sys.exit("perfbench: no Spark found (set SPARK_HOME)")
    return Path(pyspark.__file__).parent / "jars"


def classpath():
    return [str(OUT / u) for u in UNITS] + [str(spark_jars() / "*")]


def _sources(src):
    files = sorted(src.rglob("*.scala"))
    if not files:
        sys.exit(f"perfbench: no sources under {src}")
    return files


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr):
    deps = []
    stale = False
    for unit, src in UNITS.items():
        files = _sources(src)
        out = OUT / unit
        stamp_file = OUT / f"{unit}.stamp"
        stamp = _stamp(files)
        if stale or not stamp_file.exists() or stamp_file.read_text() != stamp:
            stale = True
            print(f"perfbench: compiling {unit} ({len(files)} files)", file=log)
            shutil.rmtree(out, ignore_errors=True)
            out.mkdir(parents=True)
            cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                   "-cp", str(spark_jars() / "*"), "scala.tools.nsc.Main",
                   "-nowarn", "-usejavacp", "-d", str(out)]
            if deps:
                cmd += ["-cp", os.pathsep.join(deps)]
            cmd += [str(f) for f in files]
            r = subprocess.run(cmd, stdout=log, stderr=log)
            if r.returncode != 0:
                stamp_file.unlink(missing_ok=True)
                sys.exit(f"perfbench: compiling {unit} failed")
            stamp_file.write_text(stamp)
        deps.append(str(out))


if __name__ == "__main__":
    build()
