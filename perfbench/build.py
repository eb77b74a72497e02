"""Builds the engine and the benchmark's JVM side into ``.bench_build``.

    python3 perfbench/build.py          # from the repository root

Compiles ``src/main/scala`` together with ``perfbench/scala`` with the
Scala compiler that ships in Spark's jar directory, and copies
``src/main/resources`` (the ``graftlog`` data source registration) next to
the classes. A stamp over every source file's path and content skips the
compile when nothing changed.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD = Path(".bench_build")


def spark_jars(root=Path(".")):
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the one next to
    ``spark-submit`` on the PATH, else the ``unmanagedBase`` build.sbt names."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    sbt = root / "build.sbt"
    if sbt.exists():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for c in candidates:
        if c.is_dir():
            return c
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources(root):
    src = root / "src" / "main" / "scala"
    if not src.is_dir():
        raise SystemExit(f"build: {src} not found - run from the repository root")
    files = sorted(src.rglob("*.scala")) + sorted((root / "perfbench" / "scala").rglob("*.scala"))
    resources = sorted(p for p in (root / "src" / "main" / "resources").rglob("*") if p.is_file())
    return files, resources


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure(root=Path(".")):
    """Returns the classes directory, compiling first if the sources changed."""
    files, resources = sources(root)
    classes = root / BUILD / "classes"
    stamp_file = root / BUILD / "stamp"
    want = stamp(files + resources)
    if stamp_file.exists() and stamp_file.read_text() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", f"{spark_jars(root)}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes)]
    cmd += [str(f) for f in files]
    log = root / BUILD / "compile.log"
    with open(log, "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"build: scalac failed ({rc}), see {log}")
    res_root = root / "src" / "main" / "resources"
    for r in resources:
        dst = classes / r.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    print(ensure())
