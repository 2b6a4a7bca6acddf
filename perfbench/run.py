#!/usr/bin/env python3
"""Run one perfbench workload end to end and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the program. The first run in a
checkout builds the program and the harness with sbt (see build.sbt
here); later runs reuse that build while no source file changes.

Each run generates its inputs from --seed, launches one JVM with the
harness at local[<cpus>], checks the program's outputs against
computations that do not use the program (check.py), and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run, as BENCHMARK.json lists them; a
metric that does not apply to the workload reads 0. The full record of
the run is also written to .bench_build/out/. The exit code is non-zero
when a check fails or the run cannot complete.
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

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170

# batch_mix: (query, graft module it exercises). All four parity queries,
# two relational ones and one of every other family, so that every
# graft.ops module is timed; README.md says why each is here.
BATCH_QUERIES = [
    ("p01_entity_count", "EntityPipeline"),
    ("p02_typed_entities", "EntityPipeline"),
    ("p03_entity_spans", "EntityPipeline"),
    ("p04_entity_cooccur", "EntityPipeline"),
    ("q02_top_orders", "Relational"),
    ("q21_order_gaps", "Relational2"),
    ("e07_type_shares", "EventOps"),
    ("t14_hash_split", "TextOps"),
    ("d11_dup_clusters", "Dedup"),
    ("s37_cell_imbalance", "Similarity"),
    ("m08_ahash", "Multimodal"),
    ("c01_curation_campaign", "Curation"),
]

# batch_mix: timed warm passes per second of --seconds (a warm pass takes
# about five seconds on this program on a 4-vCPU machine), at least two.
# The first timed pass is still 2-15% slower than the next: the
# untimed warm-up pass writes parquet, not noop. A median of three
# passes per query leaves it out.
BATCH_PASSES_PER_S = 0.3

# Stream runs: untimed warm-up triggers, then timed triggers per second of
# --seconds. On this program on a 4-vCPU machine the timed backfill
# triggers take about 3 times --seconds and the small triggers about twice
# it: 10 backfill triggers (8 s) and 20 small ones did not repeat from run
# to run on a shared host. Every run consumes the same pages.
STREAM_WARMUP = {"stream_small_triggers": 5, "stream_backfill": 10}
STREAM_TRIGGERS_PER_S = {"stream_small_triggers": 5.0, "stream_backfill": 4.0}

# BENCHMARK.json lists stream_backfill and batch_mix. stream_small_triggers
# runs the same way but is left out of that list: 22 runs of all three
# workloads at a length that repeats do not fit in one comparison.
WORKLOADS = ("stream_backfill", "batch_mix", "stream_small_triggers")

# Spark 4 on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs).
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, and of the checkout's location
    (the cached classpath holds absolute paths), so a change rebuilds."""
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build once per checkout (and after a source change); return the
    harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the program (build.sbt, "
             "BENCHMARK.json and src/main/scala/graft not found)")
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    with open(log) as f:
        lines = [x.strip() for x in f.read().splitlines() if x.strip()]
    cp = lines[-1] if lines else ""
    if r.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        fail(f"build failed; see {log}")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return shutil.which("java") or fail("java not found")


def run_harness(cp, workload, run_dir, seconds, trace, n_cpus, started):
    args = ["--workload", workload, "--run-dir", run_dir, "--trace", str(trace),
            "--cpus", str(n_cpus)]
    if workload == "batch_mix":
        args += ["--queries", ",".join(f"{q}:{m}" for q, m in BATCH_QUERIES),
                 "--passes", str(max(2, round(seconds * BATCH_PASSES_PER_S)))]
    else:
        args += ["--warmup", str(STREAM_WARMUP[workload])]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin()]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Harness"] + args
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as out:
        launched = time.time_ns()
        proc = subprocess.Popen(cmd + ["--launched-ns", str(launched)], cwd=run_dir,
                                stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(10, RUN_TIMEOUT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness did not finish in time; see {log}", 1)
    result = os.path.join(run_dir, "harness.json")
    if proc.returncode != 0 or not os.path.isfile(result):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {proc.returncode}; log tail:\n{tail}", 1)
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=nproc(),
                    help="Spark local[n] threads and shuffle partitions (default: nproc)")
    a = ap.parse_args()

    cp = classpath()
    started = time.time()
    run_dir = os.path.join(BUILD, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    if a.workload == "batch_mix":
        gen.write_tables(os.path.join(run_dir, "tables"), a.seed)
    else:
        timed = max(5, round(a.seconds * STREAM_TRIGGERS_PER_S[a.workload]))
        meta = gen.write_stream_pages(os.path.join(run_dir, "pages"), a.workload, a.seed,
                                      pages=STREAM_WARMUP[a.workload] + timed)
    h = run_harness(cp, a.workload, run_dir, a.seconds, a.trace, a.cpus, started)

    if a.workload == "batch_mix":
        with open(os.path.join(run_dir, "oracle_sql.json")) as f:
            oracles = json.load(f)
        errors = check.check_batch(os.path.join(run_dir, "tables"), h["check"]["results_dirs"],
                                   oracles, [q for q, _ in BATCH_QUERIES])
    else:
        c = h["check"]
        errors = check.check_stream(meta, c["last_batch"], c["num_input_rows"],
                                    check.read_counts(c["counts_file"]))
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {m["name"]: m["unit"] for m in bench["per_layer" if a.trace else "end_to_end"]}
    values = dict(h["end_to_end"], **h["per_layer"]) if a.trace else h["end_to_end"]
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in wanted.items()}
    result = {"correct": not errors, "attempted": int(h["attempted"]),
              "failed": int(h["failed"]), "metrics": metrics}

    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("" if a.cpus == nproc() else f"-cpus{a.cpus}")
    with open(os.path.join(out_dir, name + ".json"), "w") as f:
        json.dump(dict(result, workload=a.workload, seed=a.seed, seconds=a.seconds,
                       cpus=a.cpus, errors=errors, harness=h), f, indent=1)
    if not errors:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if not errors else 1)


if __name__ == "__main__":
    main()
