#!/usr/bin/env python3
"""Run one benchmark workload against the compiled engine.

    python3 perfbench/run.py --workload orders --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark driver with sbt (see perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Each run generates its input
from the seed (perfbench/gen.py, a separate process), starts one driver
JVM that sets up, times closed-loop passes and writes every step's
output, then checks those outputs against the oracles
(perfbench/check.py). The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. The full record of a run (environment, per-step counters, checks)
is written to .perfbench/results/, and spans of a traced run beside it.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import check  # noqa: E402

RUN_LIMIT_S = 170
RUN_SECONDS = 10
HEAP = "3g"

# Per workload: the generated table sets, the generator arguments every
# run uses, and the steps a pass runs, in order (ids as perfbench.Main
# names them: <layer>.<step>).
WORKLOADS = {
    "orders": {
        "why": "the paper's pairing and per-facility rollup, as batch jobs "
               "and as streaming rigs over the same events",
        "sets": "orders", "gen": ["--orders", "60000"],
        "serve": ["EventPairing.sPairMatch", "PairingTws.sPairMatchTws",
                  "JoinedPipeline.sPipeline", "WindowedAgg.sTumblingAgg"],
        "steps": ["KafkaWire.parse", "ReferencePipeline.pipeline",
                  "Pairing.qFacilityInfoByMinute", "Pairing.qPairMatch",
                  "EventPairing.sPairMatch", "PairingTws.sPairMatchTws",
                  "JoinedPipeline.sPipeline", "WindowedAgg.sTumblingAgg"]},
    "corpus_vectors": {
        "why": "session-pinned corpus, dedup and vector-index layers; "
               "ANN serving micro-batches give the serve latency",
        "sets": "docs,vectors", "gen": ["--docs", "1000", "--vectors", "2000"],
        "serve": ["StreamingIndex.sAnnServe"],
        "steps": ["Corpus.qCorpusIncrement", "Dedup.qDedupMinhash",
                  "StreamingIndex.sAnnServe", "StreamingIndex.sVectorIngest"]},
}

# The per-layer metrics are <layer>.<step>.<counter>, with these counters
# per layer; a step the workload does not run reads 0.
BATCH_PAIR = ["wall_s", "cpu_s", "stages", "shuffle_mb", "pairs_per_order"]
STREAM = ["wall_s", "cold_s", "cpu_s", "stages", "shuffle_mb", "add_batch_ms",
          "planning_ms", "state_commit_ms", "outside_trigger_s"]
CORPUS = ["wall_s", "cold_s", "cpu_s", "stages", "shuffle_mb", "spill_mb",
          "kept_frac"]
SERVE = ["wall_s", "cold_s", "cpu_s", "stages", "add_batch_ms", "planning_ms",
         "state_commit_ms", "outside_trigger_s"]
COUNTERS = {"KafkaWire": ["wall_s", "cpu_s", "dropped_rows"],
            "ReferencePipeline": BATCH_PAIR, "Pairing": BATCH_PAIR,
            "EventPairing": STREAM, "PairingTws": STREAM,
            "JoinedPipeline": STREAM, "WindowedAgg": STREAM,
            "Corpus": CORPUS, "Dedup": CORPUS, "StreamingIndex": SERVE}
UNITS = {"wall_s": "s", "cold_s": "s", "cpu_s": "s", "stages": "count",
         "shuffle_mb": "MB", "spill_mb": "MB", "add_batch_ms": "ms",
         "planning_ms": "ms", "state_commit_ms": "ms",
         "outside_trigger_s": "s", "dropped_rows": "count",
         "pairs_per_order": "ratio", "kept_frac": "ratio"}
HIGHER = {"pairs_per_order"}
EXTRA_LAYER = [("Pins.block_mb", "MB", "lower"),
               ("trace.pass_s_traced", "s", "lower"),
               ("trace.pass_s_untraced", "s", "lower"),
               ("trace.overhead_s", "s", "lower")]
# (name, unit, better, bound): bound is the share of the parent's median by
# which a metric may worsen before a change counts as a regression
END_TO_END = [("setup_s", "s", "lower", 0.25), ("pass_s", "s", "lower", 0.25),
              ("stream_rows_per_s", "rows/s", "higher", 0.25),
              ("serve_p50_ms", "ms", "lower", 0.25),
              ("serve_p95_ms", "ms", "lower", 0.25),
              ("storage_mb", "MB", "lower", 0.1)]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def per_layer_catalog():
    """Every per-layer metric as (name, unit, better), in a fixed order."""
    out, seen = [], set()
    for w in WORKLOADS.values():
        for sid in w["steps"]:
            if sid in seen:
                continue
            seen.add(sid)
            for c in COUNTERS[sid.split(".")[0]]:
                out.append((f"{sid}.{c}", UNITS[c],
                            "higher" if c in HIGHER else "lower"))
    return out + EXTRA_LAYER


def benchmark_json():
    """The repository's BENCHMARK.json, from the lists above."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w["why"]} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": d}
                       for n, u, b, d in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b in per_layer_catalog()],
    }


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """sha256 over every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compiles the engine and the driver unless the sources are unchanged
    since the last build; returns (classpath, source hash, built)."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(out, "classpath"), os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp, False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    # keep sbt's temporary files and server socket inside the checkout
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp} "
                       f"-Djna.tmpdir={tmp} -Dsbt.server.autostart=false "
                       "-XX:-UsePerfData").strip()
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], BENCH, env, fh,
                         deadline)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, stamp, True


def run_bounded(cmd, cwd, env, log, deadline):
    """Runs cmd in its own process group, killing the group at deadline."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times():
    """Machine-wide (busy, steal) CPU seconds from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    hz = os.sysconf("SC_CLK_TCK")
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    steal = v[7] if len(v) > 7 else 0
    return (sum(v[:8]) - idle - steal) / hz, steal / hz


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    if sys.argv[1:] == ["--benchmark-json"]:
        print(json.dumps(benchmark_json(), indent=2))
        return
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    cpus = len(os.sched_getaffinity(0))
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}; run from a full checkout")
    load_start = loadavg()
    cp, stamp, built = build(t_start + 700)
    if built:  # a run that builds first may take longer
        deadline = time.time() + RUN_LIMIT_S

    w = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, tmp = (os.path.join(run_dir, x) for x in ("input", "out", "tmp"))
    for d in (out, tmp):
        os.makedirs(d)
    gen = subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"),
                          "--set", w["sets"], "--seed", str(a.seed),
                          "--out", data] + w["gen"],
                         capture_output=True, text=True, timeout=120)
    if gen.returncode != 0:
        sys.stderr.write(gen.stderr)
        fail("input generation failed")
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    sz = manifest["sizes"]
    rows = {"events": sz.get("events", 0), "topic": sz.get("wire_records", 0),
            "documents": sz.get("documents", 0),
            "embeddings": sz.get("vectors", 0)}

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--steps", ",".join(w["steps"]), "--serve", ",".join(w["serve"]),
            "--data", data, "--out", out, "--work", tmp,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus),
            "--rows", ",".join(f"{k}={v}" for k, v in rows.items())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "local"))
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    busy0, steal0 = cpu_times()
    t_jvm = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = run_bounded(cmd, ROOT, env, log, deadline - 10)
    jvm_s = time.time() - t_jvm
    busy1, steal1 = cpu_times()
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    load_end = loadavg()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"driver JVM exited with {rc}")
    with open(os.path.join(out, "bench.json")) as f:
        rep = json.load(f)

    t_check = time.time()
    checks = check.run_checks(data, out, rep, manifest, a.seed)
    checks["check_s"] = time.time() - t_check
    # attempted and failed count the step calls the gate checked
    calls = [c for p in checks["passes"].values() for c in p.values()]
    failed = sum(1 for c in calls if not c["ok"])
    control_ok = checks["negative_control"]["caught"]
    attempted = len(calls)
    correct = failed == 0 and control_ok

    own_cpu = (ru1.ru_utime + ru1.ru_stime) - (ru0.ru_utime + ru0.ru_stime)
    env_rec = {
        "nproc": cpus, "cpus_used": cpus,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "jvm_wall_s": jvm_s, "jvm_cpu_s": own_cpu,
        "machine_busy_cpu_s": busy1 - busy0, "steal_s": steal1 - steal0,
        "other_cpu_s": max(0.0, (busy1 - busy0) - own_cpu),
        "java_version": rep["env"]["java_version"],
        "spark_version": rep["env"]["spark_version"],
        "git_commit": git_commit(), "source_sha256": stamp,
        "seed": a.seed, "input_sha256": manifest["content_sha256"],
        "input_sizes": sz, "generator_args": manifest["args"],
    }
    # a run shares the machine when other processes used more than a
    # quarter of a core on average while it ran, or the hypervisor stole
    # more than 1% of the cpus' time
    env_rec["contended"] = (env_rec["other_cpu_s"] > 0.25 * jvm_s
                            or env_rec["steal_s"] > 0.01 * jvm_s * cpus)

    steps = {s["id"]: s for s in rep["steps"]}
    if a.trace:
        metrics = {}
        for name, unit, _ in per_layer_catalog():
            metrics[name] = {"value": layer_value(name, steps, checks, rep),
                             "unit": unit}
    else:
        rate = rep["stream_rows"] / rep["stream_busy_s"] if rep["stream_busy_s"] else 0.0
        values = {"setup_s": rep["setup_s"], "pass_s": rep["pass_s"],
                  "stream_rows_per_s": rate,
                  "serve_p50_ms": rep["serve_p50_ms"],
                  "serve_p95_ms": rep["serve_p95_ms"],
                  "storage_mb": rep["storage_mb"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u, _, _ in END_TO_END}

    samples = rep["serve_samples_ms"]
    record = {
        "workload": a.workload, "trace": a.trace, "seconds": a.seconds,
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": metrics, "env": env_rec, "checks": checks,
        "setup_s": rep["setup_s"], "session_start_s": rep["session_start_s"],
        "passes": rep["passes"], "listeners_settled": rep["listeners_settled"],
        "serve_samples_ms": samples,
        "serve_beyond_p95": sum(1 for x in samples if x > rep["serve_p95_ms"]),
        "block_mb": rep["block_mb"], "trace_overhead": rep["trace_overhead"],
        "steps": rep["steps"],
    }
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    with open(os.path.join(res_dir, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if a.trace and os.path.exists(os.path.join(out, "spans.json")):
        shutil.copy(os.path.join(out, "spans.json"),
                    os.path.join(res_dir, tag + ".spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"env": env_rec}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def layer_value(name, steps, checks, rep):
    if name == "Pins.block_mb":
        return rep["block_mb"]
    if name.startswith("trace."):
        return rep["trace_overhead"].get(name.split(".", 1)[1], 0.0)
    layer, step, counter = name.split(".")
    sid = f"{layer}.{step}"
    if sid not in steps:
        return 0
    if counter in ("dropped_rows", "pairs_per_order", "kept_frac"):
        return checks["passes"]["first"][sid].get(counter, 0)
    return steps[sid]["counters"].get(counter, 0)


if __name__ == "__main__":
    main()
