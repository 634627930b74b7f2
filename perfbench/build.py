"""Builds the program and the benchmark harness from source with the
Scala compiler that ships with the Spark distribution the project
builds against (the root build.sbt's `unmanagedBase`), so a run needs
no build tool state outside the checkout. The build is skipped when a
stamp of every source file matches the last build."""
import hashlib
import os
import re
import shutil
import subprocess
from pathlib import Path


def spark_jars(root):
    home = os.environ.get("SPARK_HOME")
    if home and Path(home, "jars").is_dir():
        return Path(home, "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def sources(root):
    dirs = [root / "src" / "main" / "scala", root / "perfbench" / "src"]
    for d in dirs:
        if not d.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d.relative_to(root)}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(root, out):
    """Compiles into out/classes if needed; returns the run classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256(str(jars).encode())
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp = out / "classes.stamp"
    classes = out / "classes"
    cp = [str(classes), str(root / "src" / "main" / "resources"), f"{jars}/*"]
    if stamp.is_file() and stamp.read_text() == h.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    r = subprocess.run([java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={out}", "-cp", f"{jars}/*",
                        "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
                        "-classpath", f"{jars}/*", f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise SystemExit("perfbench: build failed\n" + r.stdout[-4000:])
    stamp.write_text(h.hexdigest())
    return cp
