#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (cached by source digest),
generates the workload's inputs from the seed, runs the harness JVM, checks
every output, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, from a traced pass, and the
full per-layer record is written to perfbench/work/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import pyarrow.parquet as pq  # noqa: E402

import datagen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_BUDGET_S = 170
FULL_BUDGET_S = 900
JVM_OPTS = [
    "-Xmx3g", "-Xss4m", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def java_cmd(cp, *opts):
    return ["java"] + JVM_OPTS + list(opts) + ["-cp", cp, "perfbench.Main"]


def train_archive(cp, archive):
    """Record the classes that a run loads in a class-data archive: a JVM
    that starts from it maps them instead of loading them one by one, which
    took 10-13 s off a run on 4 cores. The training JVM runs
    the warm-up of both workloads on inputs of its own. Without an archive
    (training failed) runs start as plain JVMs."""
    work = os.path.join(WORK, "train")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    datagen.catalog_tables(os.path.join(data, "catalog"), workloads.CATALOG_SF, workloads.CATALOG_DATA_SEED)
    os.makedirs(os.path.join(work, "catalog"))
    with open(os.path.join(work, "catalog", "queries.txt"), "w") as f:
        f.write("\n".join(workloads.catalog_queries()) + "\n")
    stream = os.path.join(data, "stream")
    datagen.stream_batches(stream, 0, 1, workloads.STREAM_WARMUP_ROWS)
    # two cycles: the second takes the merge path
    datagen.stream_batches(os.path.join(stream, "warmup"), 1, 2, workloads.STREAM_WARMUP_ROWS)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(cp, f"-XX:ArchiveClassesAtExit={archive}", f"-Djava.io.tmpdir={tmp}") + [
        "--workload", "train", "--data", data, "--work", work, "--seconds", "0", "--trace", "0",
        "--out", os.path.join(work, "record.json")]
    log = os.path.join(WORK, "train.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=300)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(archive):
        os.remove(archive)
    if not os.path.exists(archive):
        print(f"perfbench: no class-data archive (training exited {rc}; log in {log})", file=sys.stderr)


def build():
    """Compile the harness with the program sources and train its
    class-data archive; return the classpath, the archive (None without
    one) and the seconds the build took (0 when cached)."""
    digest = source_digest()
    stamp = os.path.join(HERE, "target", f"classpath-{digest}.txt")
    archive = os.path.join(HERE, "target", f"classes-{digest}.jsa")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip(), archive if os.path.exists(archive) else None, 0.0
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    train_archive(cp, archive)
    with open(stamp, "w") as f:
        f.write(cp)
    return cp, archive if os.path.exists(archive) else None, time.time() - t0


def prepare_inputs(workload, seed, work, full):
    """Generate the workload's inputs; return the data directory."""
    data = os.path.join(work, "data")
    if workload == "medallion_stream":
        datagen.stream_batches(data, seed, workloads.STREAM_BATCHES, workloads.STREAM_ROWS)
        datagen.stream_batches(os.path.join(data, "warmup"), seed + 1_000_000,
                               workloads.STREAM_WARMUP, workloads.STREAM_WARMUP_ROWS)
    else:
        datagen.catalog_tables(data, workloads.CATALOG_SF, workloads.CATALOG_DATA_SEED)
        with open(os.path.join(work, "queries.txt"), "w") as f:
            f.write("\n".join(workloads.query_order(seed, full)) + "\n")
    return data


def run_jvm(cp, archive, args, work, data, deadline):
    out = os.path.join(work, "record.json")
    log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    share = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    cmd = java_cmd(cp, *share, f"-Djava.io.tmpdir={tmp}") + [
        "--workload", args.workload, "--data", data, "--work", work,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", out, "--plant", args.plant]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness timed out; log in {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-30:]))
        fail(f"harness exited {rc}; log in {log}")
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant", default="none", choices=("none", "drop_row"),
                    help="self-test hook: drop one result row before the check")
    ap.add_argument("--full", action="store_true",
                    help="run the catalog's full query set (correctness sweep, not timed)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    cp, archive, build_s = build()
    work = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = prepare_inputs(args.workload, args.seed, work, args.full)
    budget = FULL_BUDGET_S if args.full else RUN_BUDGET_S
    record = run_jvm(cp, archive, args, work, data, T_START + build_s + budget)
    record["seed"] = args.seed
    record["setup_s"] = record["first_timed_ms"] / 1000.0 - T_START - build_s
    if metrics.is_catalog(args.workload):
        files = [os.path.join(data, f"{t}.parquet") for t in datagen.TABLES]
        record["input_rows"] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    verdict = metrics.judge(record, args.workload)
    if args.trace:
        values = metrics.per_layer(record, args.workload)
        os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
        path = os.path.join(WORK, "records", f"{args.workload}-s{args.seed}.json")
        with open(path, "w") as f:
            json.dump(metrics.layer_record(record, args.workload, verdict, values), f)
    else:
        values = metrics.end_to_end(record, args.workload)
    for d in ("stream", "data", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    result = {
        "correct": verdict["failed"] == 0,
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": v, "unit": metrics.UNITS[k]} for k, v in values.items()},
    }
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "full": args.full, "latency_samples": len(metrics.query_latencies(record, args.workload)),
                   "result": result}, f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
