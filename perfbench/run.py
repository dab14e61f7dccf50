#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the harness with sbt (see build.sbt here); later runs reuse the build
while no source file changed. Inputs are generated from the seed
(gen_bronze.py, gen_tables.py), the workload runs in one JVM
(perfbench.Harness), and its outputs are checked against the
generator's manifest (ETL) or against the DuckDB oracle SQL the program
registers with every query (query_mix). The last line printed is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when --trace 0 and the per-layer metrics
when --trace 1 (see BENCHMARK.json and README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
WORKLOADS = ("etl_incremental", "query_mix")
DEADLINE_S = 170  # every run after the build must end within 180 s

sys.path.insert(0, HERE)
import gen_bronze  # noqa: E402
import gen_tables  # noqa: E402
import check  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(STATE, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def inputs_for(workload, seed):
    """Generate (or reuse) this seed's inputs under .state/inputs/, keyed
    by the seed and the generators' source."""
    h = hashlib.sha256()
    for g in (gen_bronze, gen_tables):
        with open(g.__file__, "rb") as f:
            h.update(f.read())
    key = f"{seed}-{h.hexdigest()[:12]}"
    base = os.path.join(STATE, "inputs")
    d = os.path.join(base, key)
    done = os.path.join(d, f".done-{workload}")
    if os.path.exists(done):
        return d
    if os.path.isdir(base):  # keep one seed's inputs at a time
        for other in os.listdir(base):
            if other != key:
                shutil.rmtree(os.path.join(base, other), ignore_errors=True)
    if workload.startswith("etl"):
        gen_bronze.generate(os.path.join(d, "bronze"), seed, "bench")
    else:
        gen_tables.generate(os.path.join(d, "tables", "bench"), seed)
    open(done, "w").close()
    return d


def run_harness(cp, workload, inputs, seconds, trace, budget_s):
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # a fixed heap, and no perf-data file outside the checkout
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Harness", "--workload", workload,
        "--inputs", inputs, "--work", work, "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--out", out]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True,
                            start_new_session=True)
    try:
        log, _ = proc.communicate(timeout=max(10, budget_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("harness timed out")
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(log[-4000:])
        die(f"harness exited with {proc.returncode}")
    shutil.copy(out, os.path.join(STATE, "last_record.json"))
    with open(out) as f:
        return json.load(f), work


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(workload, rec, inputs):
    """The end-to-end metrics of one run (README.md defines each one per
    workload)."""
    ops, cold = rec["ops"], rec["cold"]
    walls = [op["wall_s"] for op in ops]
    if workload == "query_mix":
        rows = gen_tables.input_rows(os.path.join(inputs, "tables", "bench"))
        # warm passes reuse the artifacts and write next to nothing, so
        # the bytes are per input byte, not per pass
        m = {"rows_per_s": rows / median(walls),
             "write_amp": sum(p["bytes_written"] for p in [cold] + ops)
             / cold["input_bytes"],
             "space_amp": ops[-1]["artifact_bytes"] / ops[-1]["input_bytes"]}
    else:
        m = {"rows_per_s": median([op["rows"] / op["wall_s"] for op in ops]),
             "write_amp": sum(op["bytes_written"] for op in ops)
             / sum(op["csv_bytes"] for op in ops),
             "space_amp": cold["silver_bytes"] / cold["csv_bytes"]}
    m.update(setup_s=rec["session_s"] + median(rec["setup_samples"]),
             cold_s=cold["wall_s"], op_p50_s=median(walls))
    units = {"setup_s": "s", "cold_s": "s", "op_p50_s": "s",
             "rows_per_s": "1/s", "write_amp": "ratio", "space_amp": "ratio"}
    return {k: (m[k], u) for k, u in units.items()}


def main():
    ap = argparse.ArgumentParser(description="perfbench: one workload run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("program sources not found next to perfbench/")
    cp = build()  # the first run in a checkout builds, outside the deadline
    t0 = time.monotonic()
    inputs = inputs_for(a.workload, a.seed)
    budget = DEADLINE_S - (time.monotonic() - t0)
    rec, work = run_harness(cp, a.workload, inputs, a.seconds, a.trace == 1, budget)
    failures = check.verify(a.workload, rec, inputs, work)
    attempted = check.attempted(a.workload, rec)
    failed = len({f["op"].split(":")[-1] if a.workload == "query_mix" else f["op"]
                  for f in failures})
    for f in failures:
        print(f"perfbench: failed {f['op']}: {f['error']}: {f.get('message', '')}",
              file=sys.stderr)
    if a.trace:
        # every per-layer metric BENCHMARK.json names; a layer the
        # workload does not reach reads 0, which is why none of them is a
        # time that could be idle
        layers = dict(rec["layers"])
        layers["traced.op_p50_s"] = median([op["wall_s"] for op in rec["ops"]])
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            per_layer = json.load(f)["per_layer"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in per_layer}
    else:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in end_to_end(a.workload, rec, inputs).items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": min(failed, attempted), "metrics": metrics}))


if __name__ == "__main__":
    main()
