"""Turn a harness record into the benchmark's metrics and verdict.

A record holds raw measurements: one entry per query or batch cycle per
pass, with fingerprints of every output. Timings are reported raw (no
calibration rescaling). Per-operation latencies are pooled over the run's
passes: every completed query or batch of every pass is one sample.
"""
import json
import math
import os
import statistics

import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected", "catalog.json")

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_p50_s": "s",
    "ingest_rows_per_s": "rows/s", "freshness_p50_s": "s",
    "cpu_s": "s", "retained_heap_mb": "MB", "stored_bytes_per_row": "B/row",
}
STREAM_PHASES = ["latestOffset", "queryPlanning", "addBatch", "walCommit",
                 "commitOffsets", "triggerExecution"]
PER_LAYER = dict(
    [("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
     ("sources.load_ms", "ms"), ("sources.load_cold_ms", "ms"), ("sources.load_jobs", "count"),
     ("plans.plan_ms", "ms"), ("plans.barrier_count", "count"), ("plans.barrier_mb", "MB"),
     ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
     ("exec.driver_gap_ms", "ms"), ("exec.task_run_ms", "ms"), ("exec.task_cpu_ms", "ms"),
     ("exec.task_gc_ms", "ms"), ("exec.shuffle_read_bytes", "B"),
     ("exec.shuffle_write_bytes", "B"), ("exec.spill_bytes", "B"),
     ("exec.slot_busy_frac", "fraction")]
    + [(f"streaming.{s}.{p}_ms", "ms") for s in ("bronze", "silver") for p in STREAM_PHASES]
    + [("streaming.start_ms", "ms"), ("sources.commit_ms", "ms"),
       ("sources.write_amp", "ratio"), ("silver.rows_written_per_row_in", "ratio"),
       ("silver.quarantine_write_ms", "ms"), ("silver.rows_in", "count"),
       ("silver.rows_quarantined", "count"), ("gold.refresh_ms", "ms"),
       ("gold.rows_read_per_row_in", "ratio"), ("housekeeping.settle_ms", "ms"),
       ("jvm.driver_gc_ms", "ms"), ("trace.overhead_frac", "fraction")])
UNITS = {**END_TO_END, **PER_LAYER}


def quantile(values, p):
    """Linear-interpolated quantile of `values` at `p` in [0, 1]."""
    v = sorted(values)
    x = p * (len(v) - 1)
    lo = math.floor(x)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (x - lo)


def samples(passes, key, field):
    """`field` of every operation (query or batch) that completed, over all
    passes."""
    return [e[field] for p in passes for e in p[key] if "error" not in e]


def query_latencies(record, workload):
    """Every query latency of the run, in ms: the catalog's queries, or the
    stream's gold refreshes (its read queries, one per batch)."""
    if is_catalog(workload):
        return samples(record["passes"], "queries", "latency_ms")
    return samples(record["passes"], "batches", "gold_ms")


def is_catalog(workload):
    return workload == "catalog"


def load_expected():
    with open(EXPECTED) as f:
        return json.load(f)


def judge(record, workload):
    """Count attempted and failed operations: a query fails if it threw or
    its fingerprint differs from the expected one; the run's source ingest
    fails if it did not read every input row; a batch fails if it threw or
    its pass's end-state check failed."""
    attempted = failed = 0
    mismatches = []
    if is_catalog(workload):
        expected = load_expected()
        for p in record["passes"]:
            for e in p["queries"]:
                attempted += 1
                want = expected.get(e["name"])
                got = json.loads(e["fingerprint"]) if "fingerprint" in e else None
                if got is None or want is None or got != want:
                    failed += 1
                    mismatches.append({"name": e["name"], "error": e.get("error"),
                                       "got": got, "expected": want})
        attempted += 1
        if record["ingest"]["rows"] != record["input_rows"]:
            failed += 1
            mismatches.append({"ingest_rows": record["ingest"]["rows"], "expected": record["input_rows"]})
    else:
        for p in record["passes"]:
            # a traced run checks the end state of its first pass only; the
            # batches of the others fail only by throwing
            ok = p["end_state"].get("ok", False) if p["end_state"] else True
            for b in p["batches"]:
                attempted += 1
                if "error" in b or not ok:
                    failed += 1
            if not ok:
                mismatches.append({"end_state": p["end_state"],
                                   "errors": [b["error"] for b in p["batches"] if "error" in b]})
    return {"attempted": max(1, attempted), "failed": failed, "mismatches": mismatches}


def end_to_end(record, workload):
    passes = record["passes"]
    for p in passes:
        for e in p.get("queries", []):
            e["cycle_ms"] = e["latency_ms"] + e["release_ms"]
    pass_s = statistics.median(p["pass_ms"] for p in passes) / 1000
    m = {"setup_s": record["setup_s"], "pass_s": pass_s,
         "cpu_s": statistics.median(p["cpu_s"] for p in passes),
         "retained_heap_mb": statistics.median(p["retained_heap_mb"] for p in passes)}
    lat = query_latencies(record, workload)
    m["query_p50_s"] = quantile(lat, 0.5) / 1000
    if is_catalog(workload):
        # a request's freshness: from issuing it until the session is ready
        # for the next one (result collected, `Housekeeping.releaseAll` done);
        # the harness's own fingerprint check is left out
        cyc = samples(passes, "queries", "cycle_ms")
        m.update({"freshness_p50_s": quantile(cyc, 0.5) / 1000,
                  # source rows read per second through `Tables.load`, every
                  # column collected
                  "ingest_rows_per_s": record["ingest"]["rows"] / record["ingest"]["ms"] * 1000,
                  # bytes the queries write to Spark's local disk (shuffle
                  # files and spills), per source row
                  "stored_bytes_per_row": statistics.median(p["disk_bytes"] for p in passes)
                  / record["input_rows"]})
    else:
        fresh = samples(passes, "batches", "freshness_ms")
        st = passes[0]["storage"]
        stored = st["bronze_bytes"] + st["silver_bytes_all"] + st["gold_bytes"] + st["quarantine_bytes"]
        m.update({"freshness_p50_s": quantile(fresh, 0.5) / 1000,
                  "ingest_rows_per_s": record["raw_rows"] / pass_s,
                  "stored_bytes_per_row": stored / record["raw_rows"]})
    return {k: m[k] for k in END_TO_END}


def _traced_and_plain(record):
    """The traced pass and the untraced pass that follows it."""
    i = next(i for i, p in enumerate(record["passes"]) if p.get("traced"))
    return record["passes"][i], record["passes"][i + 1]


def per_layer(record, workload):
    traced, plain = _traced_and_plain(record)
    m = {k: 0.0 for k in PER_LAYER}
    m["trace.overhead_frac"] = traced["pass_ms"] / plain["pass_ms"] - 1
    if is_catalog(workload):
        qs = traced["queries"]
        total = lambda f: float(sum(e.get(f, 0) for e in qs))  # noqa: E731
        m.update({
            "queries.build_ms": total("build_ms"), "queries.build_jobs": total("build_jobs"),
            "plans.plan_ms": total("plan_ms"), "plans.barrier_count": total("barrier_count"),
            "plans.barrier_mb": total("barrier_mb"),
            "exec.jobs": total("jobs"), "exec.stages": total("stages"), "exec.tasks": total("tasks"),
            "exec.driver_gap_ms": total("driver_gap_ms"), "exec.task_run_ms": total("task_run_ms"),
            "exec.task_cpu_ms": total("task_cpu_ms"), "exec.task_gc_ms": total("task_gc_ms"),
            "exec.shuffle_read_bytes": total("shuffle_read_bytes"),
            "exec.shuffle_write_bytes": total("shuffle_write_bytes"),
            "exec.spill_bytes": total("spill_bytes"),
            "exec.slot_busy_frac": total("task_run_ms") / (total("latency_ms") * record["cores"]),
            "housekeeping.settle_ms": total("release_ms") + traced["settle_ms"],
            "jvm.driver_gc_ms": total("driver_gc_ms"),
            "sources.load_ms": float(sum(x["ms"] for x in traced["loads"])),
            "sources.load_jobs": float(sum(x["jobs"] for x in traced["loads"])),
            "sources.load_cold_ms": float(sum(x["ms"] for x in record["cold_loads"])),
        })
    else:
        # bronze writes a file sink, silver a foreachBatch sink; a run's
        # start cost is its wall time outside its triggers
        trig = {}
        for pr in traced["progress"]:
            sink = "silver" if "ForeachBatch" in pr["sink"] else "bronze"
            for ph in STREAM_PHASES:
                m[f"streaming.{sink}.{ph}_ms"] += pr["duration_ms"].get(ph, 0)
            trig[pr["span"]] = trig.get(pr["span"], 0) + pr["duration_ms"].get("triggerExecution", 0)
        runs = [s for s in traced["spans"] if s["kind"] == "call" and s["name"].endswith(" run")]
        m["streaming.start_ms"] = sum(s["dur_ms"] - trig.get(s["id"], 0) for s in runs)
        st = traced["storage"]
        rows_in = record["raw_rows"]
        for w in traced["writes"]:
            if "/quarantine/" in w["path"]:
                m["silver.quarantine_write_ms"] += w["ms"]
            elif "/silver/" in w["path"]:
                m["sources.commit_ms"] += w["ms"]
        m.update({
            "sources.write_amp": st["silver_bytes_all"] / st["silver_bytes_final"],
            "silver.rows_written_per_row_in": sum(st["silver_version_rows"]) / rows_in,
            "silver.rows_in": float(rows_in),
            "silver.rows_quarantined": float(st["quarantine_rows"]),
            "gold.refresh_ms": sum(b["gold_ms"] for b in traced["batches"]),
            # each refresh reads the current silver once per gold table
            "gold.rows_read_per_row_in": 3 * sum(st["silver_version_rows"]) / rows_in,
            "jvm.driver_gc_ms": float(traced.get("driver_gc_ms", 0)),
        })
        for k, v in traced["exec"].items():
            if f"exec.{k}" in m:
                m[f"exec.{k}"] = float(v)
        m["housekeeping.settle_ms"] = traced["settle_ms"]
        m["exec.driver_gap_ms"] = float(traced["driver_gap_ms"])
        m["exec.slot_busy_frac"] = m["exec.task_run_ms"] / (traced["pass_ms"] * record["cores"])
    return {k: float(m[k]) for k in PER_LAYER}


def layer_record(record, workload, verdict, values):
    """The per-layer record: run identity and conf, the per-layer metrics,
    one entry per query or batch of the traced pass, and its spans."""
    traced, plain = _traced_and_plain(record)
    return {
        "workload": workload, "seed": record["seed"], "cores": record["cores"],
        "conf": record["conf"], "metrics": values,
        "attempted": verdict["attempted"], "failed": verdict["failed"],
        "failed_frac": verdict["failed"] / verdict["attempted"],
        "mismatches": verdict["mismatches"],
        "untraced_pass_ms": plain["pass_ms"], "traced_pass_ms": traced["pass_ms"],
        "entries": [dict(e, family=workloads.family(e["name"])) if "name" in e else e
                    for e in traced.get("queries", traced.get("batches"))],
        "loads": traced.get("loads"), "cold_loads": record.get("cold_loads"),
        "progress": traced.get("progress"), "writes": traced.get("writes"),
        "storage": traced.get("storage"), "end_state": traced.get("end_state"),
        "spans": traced["spans"],
    }
