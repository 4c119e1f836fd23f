#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload run, printed as one JSON line.

Usage (from the root of a source checkout):
  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: cypher_interactive, graph_analytics, graph_writes (README.md).
The first run builds the engine and the benchmark from source with sbt and
generates the TPC-H-shaped tables; later runs reuse both. Each run starts
one JVM on local[<all cores>] with the engine's default configuration,
times the workload's set-up, warms up on a tiny graph, then measures whole
rounds of the workload's op mix until --seconds have passed. Outputs are
checked after the measured window. --trace 1 records the per-layer ledger
and reports per-layer metrics instead of the end-to-end ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import datagen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF = 0.1
TINY_SF = 0.002
WORKLOADS = ("cypher_interactive", "graph_analytics", "graph_writes")
RUN_LIMIT_S = 170
WRITE_DEPTHS = 5

END_TO_END = {
    "setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "throughput_ops_per_s": "1/s", "mem_after_gc_mb": "MiB",
}
# per-op means over the measured ops unless noted in README.md
PER_LAYER = {
    "cypher.parse_ms": "ms", "cypher.plan_ms": "ms", "cypher.plan_jobs": "count",
    "cypher.plan_cache_hit_ratio": "ratio", "cypher.execute_ms": "ms",
    "graph.snapshot_plan_nodes": "count", "graph.load_ms": "ms",
    "graph.persisted_rdds": "count", "graph.storage_mb": "MiB",
    "ops.build_ms": "ms", "ops.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.codegen_compile_ms": "ms",
    "catalyst.codegen_compiles": "count",
    "exec.wall_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms", "exec.task_wait_ms": "ms",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.core_busy_ratio": "ratio",
    "exec.skew_ratio": "ratio",
    "self.bench_ms": "ms", "self.cypher_ms": "ms", "self.ops_ms": "ms",
    "self.catalyst_ms": "ms", "self.exec_ms": "ms",
    "trace.overhead_ms": "ms", "trace.overhead_ratio": "ratio",
    "trace.latency_p50_s": "s", "check.error_rate": "ratio",
    "jvm.peak_rss_mb": "MiB",
    "writes.write_latency_p50_s": "s", "writes.read_after_write_p50_s": "s",
}
for _d in range(1, WRITE_DEPTHS + 1):
    PER_LAYER[f"writes.d{_d}.write_s"] = "s"
    PER_LAYER[f"writes.d{_d}.plan_nodes"] = "count"
# counts the JVM records per op that are reported as a maximum over the run
RUN_MAX = ("graph.persisted_rdds", "graph.storage_mb")


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def clean_env():
    """The engine runs with its defaults: no GRAFT_* overrides reach it."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    return env


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for pattern in ("project/*.properties", "project/*.sbt",
                    "src/main/**/*.scala", "src/main/**/*.java"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
        files += glob.glob(os.path.join(HERE, pattern), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the engine and the benchmark whenever the sources differ
    from those of the last build, and returns the launch file: the
    classpath, then one JVM flag a line. The classpath names the shared
    class directories, so the file is only valid for the sources last
    compiled into them; the stamp records which those were."""
    launch = os.path.join(WORK, "launch.txt")
    stamp = os.path.join(WORK, "launch.stamp")
    want = source_hash()
    if os.path.exists(launch) and read(stamp) == want:
        return launch
    os.makedirs(WORK, exist_ok=True)
    for f in (stamp, os.path.join(HERE, "target", "launch.txt")):
        if os.path.exists(f):
            os.remove(f)
    out = os.path.join(HERE, "target", "launch.txt")
    log_path = os.path.join(WORK, "build.log")
    log(f"building with sbt (log: {os.path.relpath(log_path, ROOT)})")
    with open(log_path, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false", "launchFile"],
                       fh, 800, cwd=HERE)
    if rc != 0 or not os.path.exists(out):
        fail(f"build failed (exit {rc}); see {log_path}")
    shutil.copyfile(out, launch)
    with open(stamp, "w") as fh:
        fh.write(want)
    return launch


def read(path):
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def data_dirs():
    """The sf0.1 and sf0.002 tables, under a directory named by a hash of
    datagen.py: changed generation code generates them afresh, and the
    tables of earlier versions are removed."""
    with open(datagen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:16]
    base = os.path.join(WORK, "data")
    for old in glob.glob(os.path.join(base, "*")):
        if os.path.basename(old) != version:
            shutil.rmtree(old, ignore_errors=True)
    dirs = []
    for sf in (SF, TINY_SF):
        d = os.path.join(base, version, f"sf{sf}")
        if not os.path.exists(d):
            log(f"generating sf{sf} tables")
            datagen.generate(d, sf)
        dirs.append(d)
    return dirs


def heap():
    """Half of MemTotal, clamped to 2..8 GiB: the sizing of the repo's
    tier-1 test command (the build's 24g default assumes a larger box)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_child(cmd, out, limit_s, cwd=None, env=None):
    """Runs cmd in its own process group; kills the group if it outlives
    limit_s. Returns the exit code (None on timeout) after it has ended."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd,
                         env=env if env is not None else clean_env(),
                         start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def percentile_tail(xs):
    """The highest percentile with at least ten samples beyond it: the
    (n-10)-th smallest value, while that is at least p75 (n >= 40). A
    smaller run has no such tail, so its maximum is reported, as p100."""
    s = sorted(xs)
    n = len(s)
    if n >= 40:
        return s[n - 11], round(100.0 * (n - 10) / n, 1)
    return s[-1], 100.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated runner still stops its child (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft source tree at {ROOT}: run from a source checkout")

    launch = build()
    data, tiny = data_dirs()
    started = time.time()  # a run that built may take longer; the JVM may not
    with open(launch) as fh:
        lines = [l for l in fh.read().splitlines() if l]
    classpath, flags = lines[0], lines[1:]

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(run_dir)
    os.makedirs(tmp, exist_ok=True)
    cores = os.cpu_count()
    print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": cores,
                      "heap": heap(), "sf": SF, "seconds": a.seconds,
                      "trace": a.trace}), flush=True)
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}"] + flags +
           ["-cp", classpath, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--tiny", tiny,
            "--customers", str(datagen.customers(SF)),
            "--tiny-customers", str(datagen.customers(TINY_SF)),
            "--out", run_dir])
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as fh:
        rc = run_child(cmd, fh, max(30, RUN_LIMIT_S - (time.time() - started)))
    record_path = os.path.join(run_dir, "run.json")
    if rc != 0 or not os.path.exists(record_path):
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; "
             f"see {jvm_log}", 3)
    with open(record_path) as fh:
        rec = json.load(fh)

    ops = rec["ops"]
    pending = [o for o in ops if o["status"] == "pending"]
    if pending:
        con = oracle.connect(data)
        for o in pending:
            with open(os.path.join(run_dir, o["dump"])) as fh:
                why = oracle.compare(con, json.load(fh))
            o["status"] = "ok" if why is None else "wrong"
            if why is not None:
                o["error"] = f"{o['name']}: {why}"
        con.close()
    failed = [o for o in ops if o["status"] != "ok"]
    for o in failed:
        log(f"op {o['id']} {o['name']} ({o['kind']}, depth {o['depth']}) "
            f"{o['status']}: {o.get('error', '')}")

    lat = [o["latency_s"] for o in ops]
    tail, tail_pct = percentile_tail(lat)
    summary = {"ops": len(ops), "rounds": rec["rounds"],
               "measured_s": rec["measured_s"], "tail_percentile": tail_pct,
               "tail_samples": len(lat), "failed": len(failed),
               "failed_ops": sorted({o["name"] for o in failed}),
               "cores": rec["cores"], "heap_mb": rec["heap_mb"]}
    if a.trace:
        metrics = per_layer(rec, ops, lat)
        summary["ledger"] = os.path.relpath(
            os.path.join(run_dir, rec["trace"]["ledger"]), ROOT)
        summary["self_ms"] = rec["trace"]["self_ms"]
    else:
        metrics = {
            "setup_s": median(rec["setup_samples_s"]),
            "latency_p50_s": median(lat),
            "latency_tail_s": tail,
            "throughput_ops_per_s": len(ops) / rec["measured_s"],
            "mem_after_gc_mb": rec["mem_after_gc_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    log("summary " + json.dumps(summary))
    with open(os.path.join(run_dir, "summary.json"), "w") as fh:
        json.dump({"summary": summary, "metrics": metrics, "ops": ops}, fh)
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


def per_layer(rec, ops, lat):
    tr = rec["trace"]
    n = max(1, len(ops))
    counts = [o.get("counts", {}) for o in ops]
    v = {k: sum(c.get(k, 0.0) for c in counts) / n for k in PER_LAYER}
    for k in RUN_MAX:
        v[k] = max((c.get(k, 0.0) for c in counts), default=0.0)
    runs = sum(c.get("cypher.runs", 0.0) for c in counts)
    hits = sum(c.get("cypher.plan_cache_hits", 0.0) for c in counts)
    v["cypher.plan_cache_hit_ratio"] = hits / runs if runs else 0.0
    v.update(tr["ratios"])
    for layer in ("bench", "cypher", "ops", "catalyst", "exec"):
        v[f"self.{layer}_ms"] = tr["self_ms"].get(layer, 0.0) / n
    v["trace.overhead_ms"] = tr["overhead_ms"] / n
    v["trace.overhead_ratio"] = tr["overhead_ms"] / max(1e-9, 1000 * sum(lat))
    v["trace.latency_p50_s"] = median(lat)
    v["graph.load_ms"] = 1000 * median(rec["setup_samples_s"])
    v["check.error_rate"] = sum(o["status"] != "ok" for o in ops) / n
    v["jvm.peak_rss_mb"] = rec["peak_rss_mb"]
    writes = [o for o in ops if o["kind"] == "write"]
    reads = [o for o in ops if o["kind"] == "read" and o["depth"] > 0]
    v["writes.write_latency_p50_s"] = median([o["latency_s"] for o in writes])
    v["writes.read_after_write_p50_s"] = median([o["latency_s"] for o in reads])
    if writes:
        v["graph.snapshot_plan_nodes"] = median(
            [o["counts"].get("graph.snapshot_plan_nodes", 0.0) for o in writes])
    else:
        v["graph.snapshot_plan_nodes"] = float(tr["graph_plan_nodes"])
    for d in range(1, WRITE_DEPTHS + 1):
        at = [o for o in writes if o["depth"] == d]
        v[f"writes.d{d}.write_s"] = median([o["latency_s"] for o in at])
        v[f"writes.d{d}.plan_nodes"] = median(
            [o["counts"].get("graph.snapshot_plan_nodes", 0.0) for o in at])
    return {k: {"value": v[k], "unit": u} for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    main()
