#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program and the benchmark's
JVM driver from source (once per source state), generates the workload's
inputs from the seed with DuckDB, starts one JVM per run at local[k],
checks the program's outputs against DuckDB, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. Exits non-zero, printing no result, if anything fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import checker  # noqa: E402
import gen  # noqa: E402

BUILD = ROOT / ".bench_build"
DATA = ROOT / ".bench_data"
WORK = ROOT / ".bench_work"

# Spark runs at local[k] with k one below the core count (3 on a 4-core
# box): the driver thread, JIT compiler and GC threads keep a core. Over
# five curate_mix runs this cut the spread of op_p50_s from 0.21 to 0.03.
CPUS = max(1, min(4, os.cpu_count() or 1) - 1)
JVM_TIMEOUT_S = 150

# Catalog queries of the curate workload: each has a static DuckDB oracle
# and needs no artifact landed by an offline build step.
CURATE_QUERIES = [
    "q5_join_agg", "unpivot_metrics", "source_overlap", "dedup_minhash",
    "text_quality", "session_paths",
]

# Untimed ops after the cold one, about five seconds of each workload. A
# count, not a time, so every run warms up along the same path.
WARM_OPS = {"extract_bulk": 2, "extract_delta": 16, "curate_mix": 1}

# The heap may grow to 2 GiB but starts small, so that jvm.peak_rss_mb
# follows what the program allocates rather than a pre-sized heap.
JVM_FLAGS = [
    "-Xmx2g", "-XX:+UseG1GC", "-Xss4m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.level=WARN",
] + [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the program and the JVM driver; return the run classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources at {ROOT}")
    BUILD.mkdir(exist_ok=True)
    stamp, cp_file = source_stamp(), BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # temp files and locks of the build stay in the checkout
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g") +
                       f" -Dsbt.boot.lock=false -Dsbt.ivy.home={BUILD / 'ivy'}"
                       f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    lines = log.read_text().splitlines()
    cp = next((l for l in reversed(lines) if "perfbench" in l and ":" in l
               and not l.startswith("[")), None)
    if rc != 0 or cp is None:
        fail(f"build failed, see {log}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def jvm(cp, args, log):
    """Run the driver JVM to completion; return its JSON result. Its temp
    files and Spark's local dir are under the run's work dir."""
    out = Path(args["out"])
    tmp = Path(args["work"]) / "tmp"
    tmp.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    argv = ["java", *JVM_FLAGS, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        argv += [f"--{k}", str(v)]
    argv += ["--launch-ns", str(time.time_ns())]
    with open(log, "a") as lf:
        proc = subprocess.Popen(argv, cwd=ROOT, env=env, stdout=lf,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"driver JVM timed out, see {log}")
    if rc != 0 or not out.exists():
        fail(f"driver JVM exited with {rc}, see {log}")
    return json.loads(out.read_text())


def workload_params(name, seed):
    """Inputs and driver arguments of a workload, from the seed (curate_mix
    runs on the fixed catalog copy whatever the seed)."""
    params = {"warm-ops": WARM_OPS[name]}
    if name == "curate_mix":
        try:
            data = gen.catalog()
        except (OSError, ValueError) as e:
            fail(str(e))
        return data, {**params, "queries": ",".join(CURATE_QUERIES)}
    data = gen.ensure(DATA, seed)
    if name == "extract_bulk":
        return data, {**params, "watermark-ms": gen.extract_watermark_ms()}
    return data, {**params, "first-lower-ms": gen.extract_t0_ms(),
                  "window-ms": gen.DELTA_WINDOW_MS}


def end_to_end(res):
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "rows_per_s": sum(res["rows"]) / sum(res["op_s"]),
        "op_p50_s": statistics.median(res["op_s"]),
        "heap_live_mb": res["heap_live_mb"],
    }


def per_layer(res, names):
    """Median over split ops of each layer metric; 0 where the workload
    does not use the layer."""
    layers = res["layers"]
    keys = {k for m in layers for k in m}
    out = {k: statistics.median(m.get(k, 0.0) for m in layers) for k in keys}
    out["jvm.launch_to_ready_s"] = res["launch_to_ready_s"]
    out["jvm.peak_rss_mb"] = res["peak_rss_mb"]
    out["jvm.cold_op_s"] = res["cold_op_s"]
    out["jvm.jit_s"] = res["jvm_jit_warm_s"]
    out["jvm.gc_s"] = res["jvm_gc_timed_s"] / res["attempted"]
    out["trace.op_p50_s"] = statistics.median(res["listened_op_s"])
    # a listened op and the plain op of the same round are adjacent in time,
    # so their difference leaves out the host's drift across the run
    out["trace.overhead_s"] = statistics.median(
        l - p for l, p in zip(res["listened_op_s"], res["op_s"]))
    return {n: out.get(n, 0.0) for n in names}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail(f"no {spec_file}")
    spec = json.loads(spec_file.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    t0 = time.time()
    cp = build()
    data, params = workload_params(a.workload, a.seed)
    t1 = time.time()

    work = WORK / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    log = work / "driver.log"
    base = {"workload": a.workload, "data": data, "cpus": CPUS}
    res = jvm(cp, {**base, **params, "work": work, "out": work / "result.json",
                   "seconds": a.seconds, "trace": a.trace}, log)

    t2 = time.time()
    errors = checker.check(a.workload, data, work, res, params)
    (work / "run.json").write_text(json.dumps(
        {"seed": a.seed, "data": str(data), "params": params}))
    print(f"perfbench: build+inputs {t1 - t0:.1f} s, driver {t2 - t1:.1f} s, "
          f"check {time.time() - t2:.1f} s", file=sys.stderr)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    section = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}
    values = (per_layer(res, list(units)) if a.trace else end_to_end(res))
    print(json.dumps({
        "correct": not errors,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))


if __name__ == "__main__":
    main()
