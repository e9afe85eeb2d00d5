#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload scd_rebuild --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source on first use (sbt, cached
under .bench_build/ and keyed by a hash of the sources), runs the workload
in one JVM, and prints the harness's result JSON as the last line of
stdout. --trace 1 reports the per-layer metrics instead of the end-to-end
ones and writes the run's spans under .bench_build/perfbench/spans/.

    python3 perfbench/run.py --workload all --seed 1 --seconds 12   # every workload
    python3 perfbench/run.py --selftest                             # generator tests
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ["scd_rebuild", "scd_daily", "corpus_dedup"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "1g"
# Spark on JDK 17 outside spark-submit needs these modules opened
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", BENCH / "src", ROOT / "project" / "build.properties",
             ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files = []
    for r in roots:
        if r.is_file():
            files.append(r)
        elif r.is_dir():
            files.extend(p for p in r.rglob("*") if p.is_file())
    return sorted(files)


def classpath():
    """Build (if the sources changed) and return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources next to the benchmark (expected {ROOT}/build.sbt and src/main/scala)")
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp, cp_file = OUT / "build.stamp", OUT / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == h.hexdigest():
        return cp_file.read_text().strip()
    OUT.mkdir(parents=True, exist_ok=True)
    log = OUT / "build.log"
    t0 = time.time()
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=BENCH, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}", 1)
    lines = log.read_text().splitlines()
    cp = [ln for ln in lines if not ln.startswith("[") and "perfbench" in ln and os.pathsep in ln]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {rc}); see {log}", 1)
    cp_file.write_text(cp[-1])
    stamp.write_text(h.hexdigest())
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1]


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.is_file() else (shutil.which("java") or die("java not found"))


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(cp, args, work, timeout):
    """Run the harness; return (exit code, stdout lines). Kills the JVM on timeout."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # C1 only: a run lasts well under a minute, and C2's late recompilations
    # moved operation times by 30-50 % from run to run on a 4-core machine;
    # with C1 the JIT settles during warm-up. A fixed, pre-touched heap keeps
    # peak RSS from following the collector's heap sizing, so what it
    # measures beyond the heap is native memory.
    cmd = [java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args + ["--work", str(work)]
    err = open(OUT / "jvm.stderr.log", "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        err.close()
        die(f"run exceeded {timeout} s and was stopped", 1)
    err.close()
    return proc.returncode, out.splitlines()


def run_workload(cp, name, seed, seconds, trace):
    work = OUT / "work" / name
    args = ["--workload", name, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace)]
    rc, lines = run_jvm(cp, args, work, RUN_TIMEOUT_S)
    if trace and (work / "spans.jsonl").is_file():
        spans = OUT / "spans"
        spans.mkdir(parents=True, exist_ok=True)
        shutil.copy(work / "spans.jsonl", spans / f"{name}-seed{seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    for ln in lines[:-1]:
        print(ln)
    if rc != 0 or not lines:
        sys.stderr.write("".join(open(OUT / "jvm.stderr.log").readlines()[-40:]))
        if lines:
            print(lines[-1])
        die(f"{name}: harness exited with {rc}", 1)
    result = json.loads(lines[-1])
    want = expected_metrics(trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        missing, extra = sorted(set(want) - set(got)), sorted(set(got) - set(want))
        die(f"{name}: metrics differ from BENCHMARK.json (missing {missing}, extra {extra}, "
            f"or units differ)", 1)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--catalogue", action="store_true", help="print the per-layer metric list")
    a = ap.parse_args()
    cp = classpath()
    if a.selftest or a.catalogue:
        rc, lines = run_jvm(cp, ["--selftest" if a.selftest else "--catalogue", "1"],
                            OUT / "work" / "meta", 120)
        print("\n".join(lines))
        sys.exit(rc)
    if not a.workload:
        ap.error("--workload is required")
    if a.workload != "all":
        print(json.dumps(run_workload(cp, a.workload, a.seed, a.seconds, a.trace)))
        return
    results = {w: run_workload(cp, w, a.seed, a.seconds, a.trace) for w in WORKLOADS}
    for w, r in results.items():
        print(f"# {w}")
        for k, v in r["metrics"].items():
            print(f"{w}.{k} = {v['value']} {v['unit']}")
    ok = all(r["correct"] for r in results.values())
    print(json.dumps({
        "correct": ok,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
