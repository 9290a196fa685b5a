#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala,
plus its resources) together with the benchmark's own sources
(mribench/src) with the Scala compiler that ships among the Spark jars, into
.bench_build/mribench/<source hash>/classes. A tree that is already built for
the same sources is reused.

Usage: python3 mribench/build.py      (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

SCALA = "2.13.17"


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit("mribench: set SPARK_HOME to the Spark installation")
    return Path(m.group(1))


def sources(root):
    trees = [root / "src" / "main" / "scala", root / "mribench" / "src"]
    missing = [str(t) for t in trees if not t.is_dir()]
    if missing:
        raise SystemExit(f"mribench: missing source trees {missing}; run from a repository root")
    return sorted(p for t in trees for p in t.rglob("*.scala"))


def resources(root):
    res = root / "src" / "main" / "resources"
    return sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []


def source_hash(root, files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def build_dir(root):
    return root / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "mribench"


def build(root):
    """Returns (classes dir, source hash), compiling first if needed."""
    files = sources(root)
    res = resources(root)
    digest = source_hash(root, files + res)
    out = build_dir(root) / digest / "classes"
    if (out / ".built").is_file():
        return out, digest
    jars = spark_jars(root)
    compiler = [jars / f"scala-{n}-{SCALA}.jar" for n in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.is_file()]
    if missing:
        raise SystemExit(f"mribench: Scala compiler jars not found: {missing}")
    tmp = out.with_name("classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.parent / "sources.txt"
    argfile.write_text("".join(f'"{f}"\n' for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
           "-usejavacp:false", "-classpath", str(jars / "*"), "-nowarn",
           "-Ybackend-parallelism", "4", "-d", str(tmp), f"@{argfile}"]
    print(f"[build] compiling {len(files)} sources into {out}", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    for r in res:  # the engine's service registrations (the nifti data source)
        dst = tmp / r.relative_to(root / "src" / "main" / "resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    (tmp / ".built").write_text(digest + "\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, digest


if __name__ == "__main__":
    classes, digest = build(Path.cwd())
    print(classes)
