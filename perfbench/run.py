#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload asset_sync --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (cached in the build dir, `.bench_build` or
$CARGO_TARGET_DIR). The run generates the workload's inputs from the seed,
runs the workload in one JVM for the measuring window, checks every output
outside the timed windows and prints the metrics; the last line is one
JSON object. `--trace 1` records spans and Spark job attribution and
prints the per-layer metrics instead. Results and spans are kept under
`<build dir>/results/` for `compare.py`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Workload sizes: chosen so one run fits its window with enough warm ops
# for the tail percentile (see BENCH.md).
SIZES = {
    "asset_sync": dict(epochs=12, tenants=24, instances_per_tenant=30,
                       buckets_per_tenant=12, principals_per_tenant=10),
    "graph_derive": dict(orders=2000, parts=1000, zipf_s=0.9, customers=100),
    "stream_ingest": dict(docs=400, files=4),
}
SETUP_REPEATS = 3

# HotSpot flags the root build documents for every forked Spark JVM, plus a
# fixed young generation: with G1's adaptive young sizing the peak RSS of
# identical runs varied by a fifth.
JVM_FLAGS = ["-XX:ReservedCodeCacheSize=1g", "-XX:PerMethodRecompilationCutoff=10000",
             "-Xmn1g"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for pattern in ("src/main/**/*.scala", "perfbench/src/main/**/*.scala",
                    "project/build.properties", "perfbench/project/build.properties"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile the library and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the library sources (build.sbt, src/main/scala) are not next to perfbench/")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    cp_file = os.path.join(out, f"classpath-{source_hash()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
            "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    t = time.time()
    p = subprocess.run([sbt, "--batch"] + opts + ["compile", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    print(f"built in {time.time() - t:.1f} s", file=sys.stderr)
    return cp


def heap_gb():
    """Half of RAM, clamped to 2–8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return 2


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def generate(workload, seed, work):
    """Generate the inputs SETUP_REPEATS times; keep the first copy and
    return it with the median generation time."""
    times, dirs = [], []
    for k in range(SETUP_REPEATS):
        d = os.path.join(work, f"inputs_{k}")
        t = time.perf_counter()
        gen.GENERATORS[workload](seed, d, **SIZES[workload])
        times.append(time.perf_counter() - t)
        dirs.append(d)
    for d in dirs[1:]:
        shutil.rmtree(d)
    return dirs[0], statistics.median(times)


def run_jvm(classpath, workload, inputs, work, seconds, trace):
    heap = heap_gb()
    flags = ([f"-Xmx{heap}g"] + JVM_FLAGS
             + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
             + [f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    result = os.path.join(work, "raw.json")
    cmd = (["java"] + flags + ["-cp", classpath, "graftbench.Main", workload, inputs, work,
                               str(seconds), str(trace), str(cores()), result])
    launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=170)
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"the {workload} JVM exited with code {p.returncode}")
    with open(result) as f:
        raw = json.load(f)
    return raw, launch, heap, flags


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build()
    out = build_dir()
    work = os.path.join(out, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, gen_s = generate(a.workload, a.seed, work)
        raw, launch, heap, flags = run_jvm(classpath, a.workload, inputs, work, a.seconds,
                                           a.trace)
        ops = raw["ops"]
        outputs = raw["outputs"]
        if a.workload == "asset_sync":
            bad, msgs = checks.asset_sync(inputs, work, ops)
            state_mb = checks.dir_mb(f"{work}/export", f"{work}/drift")
        elif a.workload == "graph_derive":
            bad, msgs = checks.graph_derive(inputs, work, ops, outputs)
            # graph_derive writes nothing durable: state_mb is the generated
            # input's size, a placeholder compare.py reports as n/a
            state_mb = checks.dir_mb(inputs)
            # items: input co-purchase edges times the six operators called
            edges = checks.copurchase_edges(inputs)
            for o in ops:
                o["items"] = 6 * edges
        else:
            bad, msgs = checks.stream_ingest(inputs, work, ops, outputs)
            state_mb = outputs["store_bytes"] / 1048576.0
        setup_s = gen_s + (raw["main_start"] - launch) + raw["session_s"]
        e2e, tail_info = metrics.end_to_end(ops, setup_s, state_mb, raw["peak_rss_mb"])
        stamp = {"nproc": cores(), "heap_gb": heap, "jvm_flags": flags,
                 "spark_version": raw["env"]["spark_version"], "git_commit": git_commit(),
                 "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                 "trace": a.trace}
        if a.trace:
            values = metrics.per_layer(a.workload, raw, e2e["op_p50_s"])
            values.update(extra_layer_metrics(a.workload, ops, outputs, work))
            units = dict(metrics.per_layer_names(a.workload))
        else:
            values = e2e
            units = {n: u for n, u, _, _ in metrics.END_TO_END}
        results = os.path.join(out, "results")
        os.makedirs(results, exist_ok=True)
        base = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        record = {"stamp": stamp, "metrics": values, "tail": tail_info,
                  "attempted": len(ops), "failed": len(bad), "check_messages": msgs[:50],
                  "op_walls": [o["end"] - o["start"] for o in ops]}
        if a.workload == "stream_ingest":
            record["resume_s"] = outputs["resume_s"]
        with open(base + ".json", "w") as f:
            json.dump(record, f, indent=1)
        if a.trace:
            with open(base + "-spans.json", "w") as f:
                json.dump({"spans": raw["spans"], "joblog": raw["joblog"]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for k, v in stamp.items():
        print(f"# {k}: {v}")
    print(f"# warm ops: {tail_info['warm_ops']}; op_tail_s is p{tail_info['tail_percentile']:.1f} "
          f"with {tail_info['tail_beyond']} samples beyond it")
    print(f"# op_failure_ratio: {len(bad) / len(ops):.4f} ({len(bad)} of {len(ops)} ops)")
    if a.workload == "stream_ingest":
        print(f"# resume_s (median of {len(outputs['resume_s'])}): "
              f"{statistics.median(outputs['resume_s']):.4f} s")
    if a.trace:
        untraced = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                p50 = json.load(f)["metrics"]["op_p50_s"]
            print(f"# tracing overhead: {values['trace.op_p50_s'] - p50:+.4f} s per op "
                  f"(traced minus untraced op_p50_s)")
        print(f"# spans: {base}-spans.json")
    for m in msgs[:20]:
        print(f"# CHECK FAILED: {m}")
    for name in units:
        print(f"{name} = {values[name]:.6g} {units[name]}")
    print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": len(bad),
                      "metrics": {n: {"value": values[n], "unit": units[n]} for n in units}}))
    sys.exit(1 if bad else 0)


def extra_layer_metrics(workload, ops, outputs, work):
    """Layer counts that come from the workload's outputs, not from spans."""
    warm = ops[1:] or ops
    out = {"intel.rows_merged": 0.0, "sink.mb_written": 0.0,
           "streaming.files_per_batch": 0.0, "streaming.state_files": 0.0,
           "streaming.probe_mb_per_batch": 0.0}
    if workload == "asset_sync":
        out["intel.rows_merged"] = metrics.median([o["items"] for o in warm])
        out["sink.mb_written"] = checks.dir_mb(f"{work}/export")
    elif workload == "stream_ingest":
        out["streaming.state_files"] = float(outputs["store_files"])
        out["streaming.files_per_batch"] = (outputs["store_files"]
                                            / max(1, outputs["batches_per_round"]))
        out["streaming.probe_mb_per_batch"] = metrics.median(outputs["probe_mb"])
    return out


if __name__ == "__main__":
    main()
