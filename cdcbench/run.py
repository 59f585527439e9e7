#!/usr/bin/env python3
"""CDC apply benchmark: build once, then run one workload and print its result.

Run from the repository root:

    python3 cdcbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the repository's main sources together
with the benchmark (sbt, offline) and caches the resulting classpath under
the build directory (`$CARGO_TARGET_DIR`, default `.bench_build`); later
runs start the JVM directly. The last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the
# repository's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: repository and benchmark sources."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath(build_dir):
    """Compile if the sources changed since the last build; return the classpath."""
    stamp = source_stamp()
    cp_file = build_dir / "classpath.txt"
    stamp_file = build_dir / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    # Offline: every dependency comes from the Spark install and the local
    # resolver cache, never from the network.
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l.strip() for l in proc.stdout.splitlines()]
    cps = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout)
        fail("build failed")
    build_dir.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["trickle", "bulk", "stream", "defects"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (
            ROOT / "src/main/scala/graft/pipeline/CdcPipeline.scala").is_file():
        fail("run from the repository root: the pipeline sources are not here")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    cp = classpath(build_dir)
    work = build_dir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = build_dir / "traces" / f"{a.workload}-{a.seed}.jsonl"
    cmd = (["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.callstack.depth=200",
              f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
              "-cp", cp, "cdcbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--trace-out", str(trace_out)])
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=RUN_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = proc.stdout.splitlines()
    result = None
    for line in out:
        if line.startswith("{"):
            result = line
        else:
            print(line)
    if result is None:
        fail(f"no result (exit {proc.returncode})")
    parsed = json.loads(result)
    # Keep exactly the metrics BENCHMARK.json names for this mode; the
    # report lines above carry the rest.
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in wanted:
        got = parsed["metrics"].get(m["name"])
        if got is None or got["unit"] != m["unit"]:
            fail(f"metric {m['name']} missing or not in {m['unit']}: {got}")
        metrics[m["name"]] = got
    parsed["metrics"] = metrics
    print(json.dumps(parsed), flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
