#!/usr/bin/env python3
"""Benchmark runner for completesearchspark.

One run:
    python3 perfbench/run.py --workload <typing|search|curate> \
        --seed N --seconds S --trace 0|1

builds the engine together with the benchmark program (sbt, once per source
state; outputs under perfbench/target and .bench_build/), runs one workload
in a fresh JVM and prints, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. A traced run also writes
its spans to .bench_work/trace-<workload>.json.

Every metric of every workload, with its unit, plus the checks:
    python3 perfbench/run.py --report [--seed N] [--seconds S]

Run from anywhere; paths are resolved against the checkout holding this
file. The layer -> end-to-end table and the session settings are in
perfbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
WORKLOADS = ("typing", "search", "curate")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
JAVA_OPTS = [
    "-Xmx2g",
    "-XX:+UseParallelGC",
    "-XX:-UsePerfData",
    f"-Djava.io.tmpdir={WORK / 'tmp'}",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def spark_jars():
    """The Spark jars the root build compiles against: $SPARK_HOME/jars, or
    else the directory the root build names as its `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    die("no Spark jars found: set SPARK_HOME to the Spark installation")


def classpath():
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = h.hexdigest()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "fingerprint"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env["JAVA_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dperfbench.sparkJars={spark_jars()}", "compile", "export Runtime/fullClasspath"]
    print("perfbench: building (sbt compile)", file=sys.stderr)
    code, out = run_group(cmd, BENCH, env, BUILD_TIMEOUT_S, "the build")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        die(f"build failed (sbt exit {code})")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def run_group(cmd, cwd, env, timeout, what):
    """Runs `cmd` in its own process group and waits for it; on a timeout,
    or when this runner is terminated, the whole group is killed."""
    try:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    except OSError as e:
        die(f"{what} could not start: {e}")
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        die(f"{what} did not finish within {timeout}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def run_once(workload, seed, seconds, trace):
    """Runs one workload in a fresh JVM; returns its stdout lines."""
    cp = classpath()
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JAVA_OPTS + ["-cp", cp, "perfbench.Main", "--workload", workload,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", str(trace)]
    code, out = run_group(cmd, ROOT, None, RUN_TIMEOUT_S, workload)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die(f"{workload} exited with code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        die(f"{workload} printed no result line")
    return lines


def report(seed, seconds):
    """Every workload untraced and traced: each metric by name with its
    unit (the gated ones, then the workload's own names), the checks, and
    the traced per-layer JSON."""
    results, ok = {}, True
    for w in WORKLOADS:
        for trace in (0, 1):
            lines = run_once(w, seed, seconds, trace)
            res, info = json.loads(lines[-1]), json.loads(lines[-2])
            mode = "traced" if trace else "untraced"
            results[f"{w}/{mode}"] = {**res, "named": info["named"], "inputs": info["inputs"],
                                      "digest": info["digest"]}
            ok &= res["correct"] and res["failed"] == 0
            print(f"== {w} {'traced (per-layer)' if trace else 'untraced (end-to-end)'}: "
                  f"correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} digest={info['digest'][:16]}")
            shown = res["metrics"] if trace else {**res["metrics"], **info["named"]}
            for name, m in shown.items():
                print(f"  {name:34s} {m['value']:>16.4f} {m['unit']}")
    WORK.mkdir(exist_ok=True)
    (WORK / "report.json").write_text(json.dumps(results, indent=1))
    print(f"checks: {'all passed' if ok else 'FAILED'}; "
          f"report.json and the traced runs' spans are in {WORK}")
    print(json.dumps({"correct": ok, "results": results}))
    return 0 if ok else 1


def main():
    # a terminated runner still stops the JVM it started (see run_once)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true")
    a = ap.parse_args()
    if a.seconds < 1:
        die("--seconds must be at least 1", 2)
    if a.report:
        sys.exit(report(a.seed, a.seconds))
    if not a.workload:
        die("--workload is required", 2)
    for line in run_once(a.workload, a.seed, a.seconds, a.trace):
        print(line)


if __name__ == "__main__":
    main()
