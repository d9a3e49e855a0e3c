#!/usr/bin/env python3
"""The benchmark of record for the flagship streaming pipeline.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The script compiles the repository's
`src/main/scala` together with `perfbench/src` (the build is cached under
`.bench_build/` by a hash of every source), runs the workload in its own JVM
with a deadline, and prints the run's result as the last line of standard
output:

    {"correct": true, "attempted": 2, "failed": 0, "metrics": {...}}

Untraced runs (`--trace 0`) report the end-to-end metrics, traced runs
(`--trace 1`) the per-layer ones. The child JVM keeps a typed record under
`.bench_build/records/`, rewritten after every step; a child that dies or
misses its deadline is killed and counted as one failed run, and the
result line is still printed from the record it left. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
BUILD = REPO / ".bench_build"
PROGRAM_SRC = REPO / "src" / "main" / "scala"
PROGRAM_RES = REPO / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"

# a run must end within RUN_LIMIT_S, or FIRST_RUN_LIMIT_S when it compiles
RUN_LIMIT_S = 180
FIRST_RUN_LIMIT_S = 900
MARGIN_S = 15

# Spark 4 on JDK 17 outside spark-submit (as in the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not (jars.is_dir() and any(jars.glob("scala-compiler-*.jar"))):
        raise SystemExit(f"perfbench: no Spark jars with a Scala compiler under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def host():
    """Cores, memory and the child heap, from the host."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # a quarter of RAM for the heap, 2-8 GB; RocksDB state is native memory
    heap_mb = max(2048, min(8192, mem_kb // 4 // 1024))
    return {"cores": cores, "heap_mb": heap_mb}


def sources():
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"perfbench: program sources missing: {PROGRAM_SRC.relative_to(REPO)}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    resources = sorted(p for p in PROGRAM_RES.rglob("*") if p.is_file()) if PROGRAM_RES.is_dir() else []
    return files, resources


def build(jars):
    """Compile program + benchmark into .bench_build/classes unless the
    sources are unchanged since the last build. Returns True if it compiled."""
    files, resources = sources()
    h = hashlib.sha256()
    for p in files + resources:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    h.update(",".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    stamp_file = BUILD / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return False
    log(f"compiling {len(files)} sources")
    out = BUILD / "classes.new"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(f'"{p}"' for p in files) + "\n")
    cp = f"{jars}/*"
    t0 = time.time()
    rc = subprocess.call([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                          "-nowarn", "-d", str(out), "-classpath", cp, f"@{argfile}"],
                         stdout=sys.stderr)
    if rc != 0:
        raise SystemExit(f"perfbench: compile failed (rc {rc})")
    for p in resources:
        dst = out / p.relative_to(PROGRAM_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    out.rename(classes)
    stamp_file.write_text(stamp)
    log(f"compiled in {time.time() - t0:.1f}s")
    return True


def run_child(jars, hw, args, deadline_s):
    """Run perfbench.Main in its own JVM and process group; kill the group
    at the deadline. Returns (returncode or None if killed, seconds)."""
    tmp = BUILD / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # leftovers of a killed run
    (tmp / "java").mkdir(parents=True)
    (tmp / "cwd").mkdir()
    # no hsperfdata file in /tmp: a run writes only inside its checkout
    cmd = [java(), "-XX:-UsePerfData", f"-Xms{hw['heap_mb']}m", f"-Xmx{hw['heap_mb']}m",
           f"-Djava.io.tmpdir={tmp / 'java'}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{BUILD / 'classes'}:{jars}/*", "perfbench.Main"] + args
    env = dict(os.environ, GRAFT_TMP_BASE=str(tmp))
    t0 = time.time()
    child = subprocess.Popen(cmd, cwd=tmp / "cwd", env=env, stdout=sys.stderr,
                             start_new_session=True)
    try:
        rc = child.wait(timeout=max(10, deadline_s))
    except subprocess.TimeoutExpired:
        log(f"child passed its {deadline_s:.0f}s deadline: killed")
        rc = None
    finally:
        if child.poll() is None:
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    return rc, time.time() - t0


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not (BENCH.parent / "BENCHMARK.json").is_file():
        raise SystemExit("perfbench: run from a checkout that has BENCHMARK.json")
    jars = spark_jars()
    BUILD.mkdir(exist_ok=True)
    compiled = build(jars)
    hw = host()
    limit = FIRST_RUN_LIMIT_S if compiled else RUN_LIMIT_S
    deadline = limit - MARGIN_S - (time.time() - started)

    if a.selftest:
        rc, _ = run_child(jars, hw, ["--selftest"], max(deadline, 600))
        sys.exit(0 if rc == 0 else 1)

    records = BUILD / "records"
    records.mkdir(exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    record = records / f"{name}.json"
    record.unlink(missing_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(hw["cores"]), "--record", str(record),
            "--spans", str(records / f"spans-{name}.jsonl")]
    rc, took = run_child(jars, hw, args, deadline)
    rec = json.loads(record.read_text()) if record.is_file() else {}
    done = rc == 0 and rec.get("status") == "done"
    failed = int(rec.get("failed", 0)) + (0 if done else 1)
    attempted = max(1, int(rec.get("attempted", 0)) + (0 if done else 1))
    result = {"correct": bool(done and rec.get("correct") and failed == 0),
              "attempted": attempted, "failed": failed, "metrics": rec.get("metrics", {})}
    log(f"child rc={rc} in {took:.1f}s; record {record.relative_to(REPO)}")
    print(json.dumps(result), flush=True)
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
