#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload traffic-analytics --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
runs one workload in a fresh JVM for about --seconds of timed passes, checks
every output, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics named in BENCHMARK.json, --trace 1
the per-layer ones. The full record of each run (every metric, every
operation, the Spark config, load average, source stamp) is written under
.bench_build/results/, and traced runs also write their spans under
.bench_build/traces/. Exits non-zero if any output check fails, if scratch
files are left behind, or if the program cannot be built.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("traffic-analytics", "corpus-dedup", "stream-replay")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine sources, build files, harness."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source stamp; return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala)")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
        "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
        % (Path.home() / ".sbt" / "repositories"))
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
                       "export perfbench/Runtime/fullClasspath"],
                      cwd=HERE, env=env, stdout=out, timeout=BUILD_TIMEOUT_S)
    lines = log.read_text().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and ":" in ln and not ln.startswith("[")]
    if r != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {r}); see {log}")
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(stamp)
    return cps[-1].strip()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and wait."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def cpu_ticks():
    """Cumulative (steal, total) jiffies of the machine, or None off Linux."""
    try:
        fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return None


def tree_bytes(p):
    if p.is_file():
        return p.stat().st_size
    total = 0
    for f in p.rglob("*"):
        try:
            if f.is_file():
                total += f.stat().st_size
        except OSError:
            pass
    return total


def remove(p):
    if p.is_dir() and not p.is_symlink():
        for c in p.iterdir():
            remove(c)
        p.rmdir()
    else:
        p.unlink(missing_ok=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--capture", action="store_true",
                    help="write expected row counts and content hashes instead of timing")
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_path.read_text())
    cp = build()

    sf_dir = os.environ.get("PERFBENCH_SF_DIR", str(Path.home() / "testdata" / "sf0.1"))
    if not Path(sf_dir, "events.parquet").exists():
        fail(f"input tables not found under {sf_dir}")
    expected = HERE / "expected" / f"{Path(sf_dir).name}.json"
    tag = f"{args.workload}-capture" if args.capture else f"{args.workload}-seed{args.seed}-trace{args.trace}"
    for d in ("results", "traces", "logs", "tmp"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)
    out = BUILD / "results" / f"{tag}.json"
    out.unlink(missing_ok=True)
    capture_dir = BUILD / "capture" / args.workload
    # C1 only: the C2 warm-up outlasts a run and stretches under CPU contention.
    # ParallelGC: no concurrent GC work landing in some measured passes and not others.
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={BUILD / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf-dir", sf_dir, "--out", str(out), "--expected", str(expected),
            "--trace-out", str(BUILD / "traces" / f"{tag}.json"),
            "--capture-dir", str(capture_dir) if args.capture else ""])
    log = BUILD / "logs" / f"{tag}.log"
    ticks0 = cpu_ticks()
    with open(log, "w") as lf:
        r = run_group(cmd, cwd=ROOT, stdout=lf, timeout=JVM_TIMEOUT_S)
    ticks1 = cpu_ticks()
    if r != 0 or not out.is_file():
        sys.stderr.write("\n".join(log.read_text().splitlines()[-40:]) + "\n")
        fail(f"benchmark JVM failed (exit {r}); see {log}")
    res = json.loads(out.read_text())

    # isolation: nothing the run created may stay under the scratch root
    scratch = Path(res["scratch_root"])
    before = set(res["scratch_before"])
    left = [p for p in scratch.iterdir() if p.name not in before] if scratch.is_dir() else []
    leftover = sum(tree_bytes(p) for p in left)
    for p in left:
        remove(p)
    res["leftover_scratch_bytes"] = leftover
    res["leftover_scratch_entries"] = sorted(p.name for p in left)
    # CPU time the hypervisor gave to other guests while the run was going
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        res["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])

    if args.capture:
        # expected values come only from outputs that pass the DuckDB oracle
        check = subprocess.run([sys.executable, str(ROOT / "scripts" / "check.py"), sf_dir,
                                str(capture_dir)], capture_output=True, text=True)
        print(check.stdout, end="")
        if check.returncode != 0 or "FAIL" in check.stdout:
            fail("captured outputs do not pass scripts/check.py; expected values not written")
        merged = json.loads(expected.read_text()) if expected.is_file() else {}
        merged.update(res["captured"])
        expected.parent.mkdir(exist_ok=True)
        expected.write_text(json.dumps(merged, indent=1, sort_keys=True) + "\n")
        print(f"wrote {expected} ({len(res['captured'])} queries captured)")
        return

    if args.trace:
        records = [json.loads(p.read_text())
                   for p in (BUILD / "results").glob(f"{args.workload}-seed*-trace0.json")]
        untraced = [r["end_to_end"]["pass_s"]["value"] for r in records
                    if "pass_s" in r.get("end_to_end", {})]
        if untraced:
            base = sorted(untraced)[len(untraced) // 2]
            traced = res["end_to_end"]["pass_s"]["value"]
            res["tracing_overhead"] = traced / base - 1 if base > 0 else None
    out.write_text(json.dumps(res, indent=1) + "\n")

    bad = [f"{op['name']}: {op['error']}" for p in res["passes"] for op in p["ops"] if not op["ok"]]
    bad += [f"{c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
    if leftover:
        bad.append(f"leftover scratch: {leftover} bytes in {res['leftover_scratch_entries']}")
    for b in bad[:20]:
        print(f"perfbench: FAILED {b}", file=sys.stderr)

    source = res.get("per_layer", {}) if args.trace else res["end_to_end"]
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in names if n not in source]
    if missing:
        fail(f"metrics not measured: {missing}")
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "setup_runs_s": res["setup_s"], "passes": len(res["passes"]),
               "end_to_end": res["end_to_end"], "leftover_scratch_bytes": leftover,
               "cpu_steal_share": res.get("cpu_steal_share"),
               "tracing_overhead": res.get("tracing_overhead"), "record": str(out.relative_to(ROOT))}
    if args.trace:
        summary["per_layer"] = res["per_layer"]
        summary["self_time_s"] = res["self_time_s"]
    print(json.dumps(summary))
    correct = not bad
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"] + 1,  # + the scratch isolation check
        "failed": res["failed"] + (1 if leftover else 0),
        "metrics": {n: {"value": source[n]["value"], "unit": source[n]["unit"]} for n in names},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
