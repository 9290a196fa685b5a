#!/usr/bin/env python3
"""Runs one benchmark workload in its own JVM and prints its result.

Usage (from the repository root):
  python3 mribench/run.py --workload mri_build|store_read|query_mix|all
                          [--seed N] [--seconds S] [--trace 0|1]

Builds the engine and the benchmark first if needed (mribench/build.py).
Every line the JVM prints is passed through; the last line is one JSON
object with `correct`, `attempted`, `failed` and `metrics`. `--workload all`
runs every workload in turn, prints each metric with its unit, and exits
non-zero if any output check failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("mri_build", "store_read", "query_mix")
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def check_shards(root, store):
    """tools/check_lmdb.py on every committed shard: (attempted, failed)."""
    shards = [l for l in (store / "_MANIFEST").read_text().split("\n") if l.startswith("shard-")]
    failed = 0
    for s in shards:
        p = subprocess.run([sys.executable, str(root / "tools" / "check_lmdb.py"), str(store / s)],
                           capture_output=True, text=True, timeout=120)
        if p.returncode != 0:
            failed += 1
            print(f"[check] FAILED: check_lmdb.py {s}: {p.stdout}{p.stderr}", file=sys.stderr)
    return len(shards), failed


def java_cmd(root, classes, work, args):
    """The benchmark JVM: fixed heap (-Xms = -Xmx), its files and java.io.tmpdir
    inside `work`, UTC, the module opens Spark needs on JDK 17."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([str(classes), str(build.spark_jars(root) / "*")]),
               "graft.bench.Main", "--work", str(work)] + args)


def fresh_work(root, name):
    work = build.build_dir(root) / "runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def run_jvm(root, classes, digest, workload, seed, seconds, trace, cpus):
    work = fresh_work(root, f"{workload}-{seed}")
    cmd = java_cmd(root, classes, work, [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--cpus", str(cpus), "--source-hash", digest,
        "--commit", commit(root), "--pinned", str(root / "mribench" / "pinned.tsv")])
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"mribench: {workload} JVM timed out after {JVM_TIMEOUT_S} s")
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"mribench: {workload} JVM failed with code {proc.returncode}")
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1])
    if workload == "mri_build":
        attempted, failed = check_shards(root, work / "mri" / "last-store")
        result["attempted"] += attempted
        result["failed"] += failed
        result["correct"] = result["correct"] and failed == 0
    if trace:
        spans = next(work.glob("spans-*.json"), None)
        if spans:
            keep = build.build_dir(root) / "traces" / spans.name
            keep.parent.mkdir(parents=True, exist_ok=True)
            shutil.move(str(spans), keep)
            print(f"[trace] spans kept at {keep}")
    shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 4)
    a = ap.parse_args()
    root = Path.cwd()
    classes, digest = build.build(root)
    if a.workload != "all":
        r = run_jvm(root, classes, digest, a.workload, a.seed, a.seconds, a.trace, a.cpus)
        print(json.dumps(r))
        sys.exit(0 if r["correct"] else 1)
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        r = run_jvm(root, classes, digest, w, a.seed, a.seconds, a.trace, a.cpus)
        for name, m in r["metrics"].items():
            print(f"{w:<11} {name:<34} {m['value']:>14.6g} {m['unit']}")
            total["metrics"][f"{w}.{name}"] = m
        total["correct"] = total["correct"] and r["correct"]
        total["attempted"] += r["attempted"]
        total["failed"] += r["failed"]
    print(json.dumps(total))
    sys.exit(0 if total["correct"] else 1)


if __name__ == "__main__":
    main()
