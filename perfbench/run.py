#!/usr/bin/env python3
"""Run one benchmark workload against the engine in the current checkout.

    python3 perfbench/run.py --workload fixture_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt) with sbt; later runs reuse the build while
no source changed. The harness runs in one JVM (perfbench.Main) and
writes raw observations; this script turns them into metrics, checks
every key's result fingerprint against perfbench/expected/<workload>.json
and prints, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Details (per-key layers, spans, confs, input sizes, sample counts) go to
.bench_build/perfbench/results/. The exit code is 0 only when every key
execution succeeded and every fingerprint matched.

--record writes this run's fingerprints as the expected ones instead of
checking them.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

# A run must end within this many seconds, the build excluded.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
# A tail percentile is reported with at least this many samples beyond it.
TAIL_SAMPLES = 10
FIXTURES = os.path.join("perfbench", "fixtures", "sf0.01")


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources(root):
    """Every file the build reads, for the rebuild stamp."""
    roots = [os.path.join(root, "src"), os.path.join(HERE, "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build(root, work):
    """Compiles engine and harness when a source changed; returns the
    runtime classpath and the harness JVM's flags (perfbench/build.sbt's
    javaOptions)."""
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    flags_file = os.path.join(work, "jvm_flags.json")
    if all(os.path.isfile(f) for f in (stamp_file, cp_file, flags_file)):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf, open(flags_file) as ff:
                    return cf.read(), json.load(ff)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath", "show javaOptions"]
    try:
        out = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True,
                             timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed", 1)
    lines = [ln for ln in out.stdout.splitlines() if "classes" in ln and os.pathsep in ln]
    if not lines:
        fail("build printed no classpath", 1)
    cp = lines[-1].strip()
    # `show` prints a sequence one "[info] * <element>" line each
    flags = [ln[len("[info] * "):] for ln in out.stdout.splitlines()
             if ln.startswith("[info] * ")]
    if not any(f.startswith("--add-opens") for f in flags):
        fail("build printed no JVM flags", 1)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(flags_file, "w") as fh:
        json.dump(flags, fh)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, flags


def run_jvm(root, cp, flags, args, work, raw, deadline):
    if os.path.isdir(work):
        shutil.rmtree(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.isfile(java):
        java = "java"
    cmd = [java] + flags + [
        "-Djava.io.tmpdir=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores()), "--fixtures", os.path.join(root, FIXTURES),
        "--work", work, "--out", raw]
    # the engine may print; stdout carries only this script's lines
    proc = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded %d s" % RUN_LIMIT_S, 1)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(raw):
        fail("harness JVM exited with %s" % rc, 1)
    with open(raw) as fh:
        return json.load(fh)


def cores():
    return min(2, os.cpu_count() or 1)


def end_to_end(raw):
    """End-to-end metrics from the untraced warm passes, with the sample
    count behind each."""
    plain = [p for p in raw["passes"] if not p["traced"] and not p["settle"]]
    latencies = [e["s"] for p in plain for e in p["execs"] if e["error"] is None]
    values = {
        "warm_wall_s": stats.median([p["wall_s"] for p in plain]),
        "cold_wall_s": raw["cold"]["wall_s"],
        "query_p50_s": stats.percentile(latencies, 0.5),
        "query_p75_s": stats.percentile(latencies, 0.75),
        "setup_s": raw["setup"]["session_s"] + raw["setup"]["warmup_s"],
    }
    samples = {
        "warm_wall_s": len(plain), "cold_wall_s": 1,
        "query_p50_s": len(latencies), "query_p75_s": len(latencies),
        "setup_s": 1,
        "query_p75_beyond": stats.samples_beyond(len(latencies), 0.75),
    }
    return values, samples


LAYER_SUMS = {
    # per-layer metric: (row field, scale)
    "construct.s": ("construct_s", 1), "construct.jobs": ("construct_jobs", 1),
    "construct.task_cpu_s": ("construct_task_cpu_s", 1),
    "construct.self_s": ("construct_self_s", 1), "action.self_s": ("action_self_s", 1),
    "catalyst.analyze_s": ("analyze_s", 1), "catalyst.optimize_s": ("optimize_s", 1),
    "catalyst.physical_s": ("physical_s", 1), "action.s": ("action_s", 1),
    "sched.jobs": ("jobs", 1), "sched.stages": ("stages", 1), "sched.tasks": ("tasks", 1),
    "sched.delay_s": ("delay_s", 1),
    "exec.task_s": ("task_s", 1), "exec.cpu_s": ("cpu_s", 1), "exec.gc_s": ("gc_s", 1),
    "exec.scan_records": ("scan_records", 1), "exec.scan_mb": ("scan_bytes", 1 / 1048576),
    "shuffle.write_mb": ("shuffle_write_bytes", 1 / 1048576),
    "shuffle.read_mb": ("shuffle_read_bytes", 1 / 1048576),
    "shuffle.fetch_wait_s": ("fetch_wait_s", 1),
    "shuffle.spill_mb": ("spill_bytes", 1 / 1048576),
    "cache.release_s": ("release_s", 1), "cache.stored_mb": ("cache_stored_bytes", 1 / 1048576),
    "cache.rdds": ("cache_rdds", 1),
    "write.mb": ("write_bytes", 1 / 1048576), "write.records": ("write_records", 1),
}
PHASES = ("construct_s", "analyze_s", "optimize_s", "physical_s", "action_s")


def per_layer(raw):
    """Per-layer metrics: each traced pass's sums over its keys, then the
    median over traced passes."""
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"] and not p["settle"]]
    if not traced or not plain:
        fail("a traced run needs traced and untraced passes", 1)

    def med(f):
        return stats.median([f(p) for p in traced])

    values = {name: med(lambda p, f=field, k=scale: sum(r[f] for r in p["layers"]) * k)
              for name, (field, scale) in LAYER_SUMS.items()}
    for part in ("session_s", "warmup_s"):
        values["setup." + part] = raw["setup"][part]

    def frac(num, den):
        return num / den if den else 0.0

    values["sched.single_task_stage_frac"] = med(lambda p: frac(
        sum(r["single_task_stages"] for r in p["layers"]),
        sum(r["stages"] for r in p["layers"])))
    values["exec.task_util"] = med(lambda p: frac(
        sum(r["task_s"] for r in p["layers"]), p["wall_s"] * raw["cores"]))
    values["jvm.heap_peak_mb"] = raw["heap_peak_mb"]
    values["jvm.gc_s"] = raw["cold"]["gc_s"]
    values["jvm.jit_s"] = raw["cold"]["jit_s"]
    traced_wall = stats.median([p["wall_s"] for p in traced])
    plain_wall = stats.median([p["wall_s"] for p in plain])
    values["trace.overhead_frac"] = (traced_wall - plain_wall) / plain_wall
    # the key span's time that none of its phase spans covers
    values["trace.unattributed_frac"] = med(lambda p: frac(
        sum(r["key_s"] - sum(r[f] for f in PHASES) for r in p["layers"]),
        sum(r["key_s"] for r in p["layers"])))
    return values


def per_key(raw):
    """Median of every layer field per key over the traced passes."""
    rows = {}
    for p in raw["passes"]:
        for r in p["layers"]:
            rows.setdefault(r["key"], []).append(r)
    return {k: {f: stats.median([r[f] for r in rs]) for f in rs[0]
                if f not in ("key", "pass")}
            for k, rs in sorted(rows.items())}


def check(raw, expected):
    """Failed executions and fingerprint mismatches, each with its error."""
    failures = []
    execs = raw["cold"]["execs"] + [e for p in raw["passes"] for e in p["execs"]]
    failures += [(e["key"], e["error"]) for e in execs if e["error"] is not None]
    for key, fp in sorted(raw["fingerprints"].items()):
        want = expected.get(key)
        if fp != want:
            failures.append((key, "fingerprint %s, expected %s" % (fp, want)))
    return len(execs) + len(raw["fingerprints"]), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    start = time.time()

    root = os.getcwd()
    needed = [os.path.join(root, "build.sbt"),
              os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala"),
              os.path.join(root, FIXTURES, "lineitem.parquet"),
              os.path.join(root, "BENCHMARK.json")]
    missing = [f for f in needed if not os.path.isfile(f)]
    if missing:
        fail("not a checkout of the engine, missing: " + ", ".join(missing))
    if shutil.which("sbt") is None:
        fail("sbt not found")
    expected_file = os.path.join(HERE, "expected", args.workload + ".json")
    if not args.record and not os.path.isfile(expected_file):
        fail("unknown workload or no expected fingerprints: " + args.workload)

    state = os.path.join(root, ".bench_build", "perfbench")
    results = os.path.join(state, "results")
    os.makedirs(results, exist_ok=True)
    cp, flags = build(root, state)
    name = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    raw = run_jvm(root, cp, flags, args, os.path.join(state, "work-" + name),
                  os.path.join(results, name + ".raw.json"), time.time() + RUN_LIMIT_S)

    if args.record:
        with open(expected_file, "w") as fh:
            json.dump(raw["fingerprints"], fh, indent=1, sort_keys=True)
            fh.write("\n")
    with open(expected_file) as fh:
        expected = json.load(fh)
    attempted, failures = check(raw, expected)

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        values = per_layer(raw)
        samples = {"traced_passes": sum(p["traced"] for p in raw["passes"])}
        keys = per_key(raw)
        for k, r in keys.items():
            print("%-22s key %.3fs  construct %.3fs (%d jobs)  catalyst %.3fs  action %.3fs"
                  "  jobs %d  tasks %d  task %.3fs  release %.3fs" % (
                      k, r["key_s"], r["construct_s"], r["construct_jobs"],
                      r["analyze_s"] + r["optimize_s"] + r["physical_s"], r["action_s"],
                      r["jobs"], r["tasks"], r["task_s"], r["release_s"]))
    else:
        values, samples = end_to_end(raw)
        keys = None
        if samples["query_p75_beyond"] < TAIL_SAMPLES:
            print("perfbench: warning: query_p75_s has only %d samples beyond it "
                  "(the window was cut short)" % samples["query_p75_beyond"], file=sys.stderr)
    if set(values) != set(units):
        fail("metrics differ from BENCHMARK.json: %s" % sorted(set(values) ^ set(units)), 1)
    for key, err in failures:
        print("FAILED %s: %s" % (key, err))
    error_rate = len(failures) / attempted
    summary = ["%s=%.4f %s" % (k, v, units[k]) for k, v in values.items()]
    print("%s seed=%d: %s error_rate=%.4f (%d/%d) samples=%s" % (
        args.workload, args.seed, " ".join(summary), error_rate, len(failures),
        attempted, json.dumps(samples)))

    detail = {k: raw[k] for k in ("workload", "seed", "trace", "cores", "keys", "confs",
                                  "jvm_flags", "input", "setup", "fingerprints")}
    warm = {}
    for p in raw["passes"]:
        for e in p["execs"]:
            if e["error"] is None and not p["traced"] and not p["settle"]:
                warm.setdefault(e["key"], []).append(e["s"])
    detail.update(metrics=values, samples=samples, per_key=keys, error_rate=error_rate,
                  failures=failures, run_s=time.time() - start,
                  passes=[{f: p[f] for f in ("pass", "settle", "traced", "wall_s")}
                          for p in raw["passes"]],
                  warm_key_s={k: stats.median(v) for k, v in sorted(warm.items())})
    with open(os.path.join(results, name + ".json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    if raw["spans"]:
        with open(os.path.join(results, name + ".spans.json"), "w") as fh:
            json.dump(raw["spans"], fh)
    os.remove(os.path.join(results, name + ".raw.json"))

    correct = not failures
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
