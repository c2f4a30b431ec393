#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads against its public API.

    python3 perfbench/run.py --workload dedup_graph|lake_ingest \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark program with sbt (again whenever their sources change). Each run
starts one benchmark JVM that runs the workload as a closed loop (one
client, ops one after another, local[n] with n = min(2, nproc), n shuffle
partitions): a cold pass, warm-up passes, then measured warm passes sized
to --seconds. Every op's output is checked. Metrics are printed one per
line with their units; the last line of stdout is the JSON result. With
--trace 1 a listener records spans and counters and the metrics are the
per-layer ones. Every run leaves a result file with its full context under
perfbench/.work/results/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
WORKLOADS = ("dedup_graph", "lake_ingest")
# Fixed heap and generation sizes, so the resident set (peak_rss_mb) does not
# follow the collector's adaptive resizing from run to run.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
            "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 170
# Warm-pass wall time on a 4-core box. A run does enough warm passes to
# cover --seconds at this pace, so every run of a workload does the same work.
NOMINAL_PASS_S = {"dedup_graph": 8.5, "lake_ingest": 19.0}
# Unmeasured passes between the cold pass and the measured ones. The JIT is
# still compiling dedup_graph's code in its first warm pass (a key's time
# falls by up to a third from that pass to the next), and those samples made
# op_p50_s swing between keys from run to run.
WARMUP_PASSES = {"dedup_graph": 1, "lake_ingest": 0}

# Per-op counters that are peaks, so a pass keeps their maximum; the rest are summed.
PEAKS = {"exec.peak_mem_bytes", "storage.peak_bytes", "storage.rdds_left"}
PER_LAYER = [
    ("operators.construct_ms", "ms"), ("operators.eager_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("plan.exchanges", "count"), ("plan.sorts", "count"), ("plan.broadcasts", "count"),
    ("plan.pinned_scans", "count"), ("plan.cached_scans", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.scan_tasks", "count"), ("sched.delay_ms", "ms"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.peak_mem_bytes", "bytes"), ("exec.core_util", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.records", "count"), ("shuffle.fetch_wait_ms", "ms"),
    ("spill.disk_bytes", "bytes"), ("spill.memory_bytes", "bytes"),
    ("storage.peak_bytes", "bytes"), ("storage.blocks_dropped", "count"),
    ("storage.rdds_left", "count"),
    ("scan.rows", "count"), ("scan.bytes", "bytes"),
    ("lake.publish_ms", "ms"), ("lake.bytes_written", "bytes"),
    ("lake.files_written", "count"), ("lake.rows_written", "count"),
    ("lake.live_ratio", "ratio"),
    ("trace.wall_s", "s"), ("trace.unaccounted_ms", "ms"),
    ("trace.action_self_ms", "ms"), ("trace.job_self_ms", "ms"),
]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt unless the last build saw the same sources; return
    the JVM options and classpath the build wrote."""
    launch = os.path.join(WORK, "launch.txt")
    stamp_file = os.path.join(WORK, "launch.stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(launch) as g:
                    return g.read().splitlines(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building the engine and the benchmark program with sbt")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   stdin=subprocess.DEVNULL, check=True, timeout=840)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as g:
        return g.read().splitlines(), stamp


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def percentile_tail(samples):
    """The highest percentile with at least ten samples beyond it, or the
    median when there are fewer than twenty samples."""
    s = sorted(samples)
    n = len(s)
    if n >= 20:
        return s[n - 11], 100.0 * (n - 10) / n, n
    return statistics.median(s), 50.0, n


def check_digests(run_dir, keys):
    """Digest each key's cold-pass result the way tools/diff.py reads it and
    compare with the checked-in oracle digest. Returns {key: error or None}."""
    sys.path.insert(0, HERE)
    from digest import digest_parquet
    with open(os.path.join(HERE, "digests.json")) as f:
        want = json.load(f)["digests"]
    out = {}
    for k in keys:
        d = os.path.join(run_dir, "out", k)
        if not os.path.isdir(d):
            out[k] = "no result written"
            continue
        got = digest_parquet(d)
        out[k] = None if got == want.get(k) else f"digest {got} != oracle {want.get(k)}"
    return out


def measured(raw):
    """The passes the warm metrics are taken from: all but the cold pass and
    the warm-up passes."""
    return raw["passes"][1 + raw["warmup_passes"]:]


def end_to_end(raw, attempted, failed):
    """BENCHMARK.json's end-to-end metrics, and the figures printed beside
    them: the op latency tail (too few samples per run to bound it) and the
    error rate."""
    passes = raw["passes"]
    warm = measured(raw)
    samples = ([o["s"] for p in warm for o in p["ops"] if o["ok"]]
               or [o["s"] for p in warm for o in p["ops"]])
    tail, pct, n = percentile_tail(samples)
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "cold_s": (passes[0]["wall_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "op_p50_s": (statistics.median(samples), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MiB"),
    }
    info = {"op_tail_s": (tail, "s"), "op_tail_percentile": (pct, ""),
            "op_samples": (n, ""), "error_rate": (failed / attempted, "")}
    return m, info


def per_layer(raw):
    passes = raw["passes"]
    cores = raw["cores"]
    recon = raw.get("reconcile", {})
    per_pass = []
    written_so_far = sum(o.get("counters", {}).get("lake.bytes_written", 0.0)
                         for p in passes[:1 + raw["warmup_passes"]] for o in p["ops"])
    for p in measured(raw):
        tot = {}
        for o in p["ops"]:
            for k, v in o.get("counters", {}).items():
                tot[k] = max(tot.get(k, 0.0), v) if k in PEAKS else tot.get(k, 0.0) + v
        tot.update(p.get("stats", {}))
        tot["exec.core_util"] = tot.get("exec.run_ms", 0.0) / (p["wall_s"] * 1000 * cores)
        # bytes the lake serves after the pass ÷ bytes it has written so far
        written_so_far += tot.get("lake.bytes_written", 0.0)
        tot["lake.live_ratio"] = (tot.get("lake.live_bytes", 0.0) / written_so_far
                                  if written_so_far else 0.0)
        tot["trace.wall_s"] = p["wall_s"]
        ids = [f"p{p['pass']}.{i}.{o['name']}" for i, o in enumerate(p["ops"])]
        rs = [recon[i] for i in ids if i in recon]
        tot["trace.unaccounted_ms"] = sum(abs(r["residual_ms"]) for r in rs)
        tot["trace.action_self_ms"] = sum(r["self_ms"].get("exec.action", 0.0) for r in rs)
        tot["trace.job_self_ms"] = sum(r["self_ms"].get("job", 0.0) for r in rs)
        per_pass.append(tot)
    return {name: (statistics.median(t.get(name, 0.0) for t in per_pass), unit)
            for name, unit in PER_LAYER}


def op_counters(raw):
    """Per-op counters, keyed by op name, one entry per measured pass."""
    out = {}
    for p in measured(raw):
        for o in p["ops"]:
            out.setdefault(o["name"], []).append(o.get("counters", {}))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log("[perfbench] engine sources not found next to the benchmark; nothing to run")
        return 2
    launch, stamp = build()

    t0 = time.time()
    load_start = loadavg()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    raw_path = os.path.join(run_dir, "raw.json")
    warm = math.ceil(a.seconds / NOMINAL_PASS_S[a.workload]) + WARMUP_PASSES[a.workload]
    if a.workload == "lake_ingest":
        sys.path.insert(0, HERE)
        import lake_gen
        lake_gen.generate(DATA, os.path.join(run_dir, "lake"), a.seed,
                          months=lake_gen.BOOTSTRAP_MONTHS + warm)
    cmd = (["java"] + launch + JVM_OPTS + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                                "perfbench.Main", a.workload, str(a.seed), str(warm),
                                str(a.trace), DATA, run_dir, raw_path, str(int(t0 * 1000))])
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"[perfbench] benchmark JVM exceeded {JVM_TIMEOUT_S} s")
            return 1
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(raw_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-4000:])
        log(f"[perfbench] benchmark JVM failed with exit code {rc}")
        return 1
    with open(raw_path) as f:
        raw = json.load(f)
    raw["warmup_passes"] = WARMUP_PASSES[a.workload]

    ops = [o for p in raw["passes"] for o in p["ops"]]
    errors = {}
    if a.workload != "lake_ingest":
        bad = {k: e for k, e in check_digests(run_dir, sorted({o["name"] for o in ops})).items() if e}
        for o in ops:
            if o["ok"] and o["name"] in bad:
                o["ok"] = False
                o["error"] = bad[o["name"]]
    for o in ops:
        if not o["ok"]:
            errors.setdefault(o["name"], o["error"])
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)

    if a.trace:
        metrics, info = per_layer(raw), {"error_rate": (failed / attempted, "")}
    else:
        metrics, info = end_to_end(raw, attempted, failed)
    for name, (v, unit) in list(metrics.items()) + list(info.items()):
        print(f"{a.workload} {name} = {v:.6g} {unit}".rstrip())
    for name, e in sorted(errors.items()):
        print(f"{a.workload} FAILED {name}: {e}")

    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)), "cores": raw["cores"],
        "loadavg_start": load_start, "loadavg_end": loadavg(),
        "java_version": raw["java_version"], "java_vm": raw["java_vm"],
        "spark_version": raw["spark_version"], "git_head": git_head(), "source_stamp": stamp,
        "warmup_passes": raw["warmup_passes"],
        "op_order": [[o["name"] for o in p["ops"]] for p in raw["passes"]],
        "pass_wall_s": [p["wall_s"] for p in raw["passes"]],
        "pass_stats": [p.get("stats", {}) for p in raw["passes"]],
        "op_seconds": [[o["s"] for o in p["ops"]] for p in raw["passes"]],
    }
    record = dict(result, context=context, errors=errors,
                  info={k: v for k, (v, _) in info.items()})
    if a.trace:
        record["op_counters"] = op_counters(raw)
        record["reconcile"] = raw.get("reconcile")
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    base = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t0)}")
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if a.trace:
        with open(base + ".spans.json", "w") as f:
            json.dump(raw.get("spans", []), f)
    shutil.rmtree(run_dir)
    print(f"{a.workload} result file = {os.path.relpath(base + '.json', ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # A terminated run still stops its JVM (the finally in main).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
