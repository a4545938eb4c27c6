#!/usr/bin/env python3
"""graft benchmark: runs one workload with one seed and prints one JSON
result line (the last line of stdout).

    python3 perfbench/run.py --workload denorm_stream --seed 1 --seconds 10 --trace 0

Run it from the root of a graft checkout. The first run builds graft and
the harness with sbt (offline); later runs reuse the build while the
sources are unchanged. Workloads, metrics and layers: perfbench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

import build
import gate
import gen
import record
import stats

WORKLOADS = ["denorm_stream", "registry"]

# denorm_stream: phase-2 offered load and the stream's shape
DENORM = {
    "left_rate": 800,          # lefts offered per second in phase 2
    "update_rate": 4,          # customer updates offered per second in phase 2
    "backlog_lefts": 100000,   # phase-1 backlog (plus the 15,000-row initial load)
    "rows_per_file": 500,      # backlog file size: a drain batch is max_files files
    "tick_ms": 100,            # generator period: one file per topic per tick
    "max_files": 30,           # maxFilesPerTrigger per topic (3 s of ticks)
    "state_partitions": 8,     # as graft's streaming queries use
    "drains": 2,               # warm backlog drains (best of), after the first
    "gap_s": 5.0,              # update ordering gap, > max_files x tick (see gen.py)
}
SETUP_REPS = 3
JVM_TIMEOUT_S = 165


def load_spec(root):
    """The metric lists and the registry slice, from BENCHMARK.json at the
    checkout's root: (end-to-end, per-layer, slice). Each metric list
    holds (name, unit) pairs; the slice is the queries named by the
    per-layer `query.<name>.best_s` metrics."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    end_to_end = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    per_layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    queries = [n[len("query."):-len(".best_s")] for n, _ in per_layer
               if n.startswith("query.") and n.endswith(".best_s")]
    return end_to_end, per_layer, queries


def registry_order(queries, seed):
    order = list(queries)
    random.Random(f"registry/{seed}").shuffle(order)
    return order


def registry_metrics(raw, data_dir):
    attempts = raw["attempts"]
    by_q = {q: [a for a in attempts if a["query"] == q] for q in raw["order"]}
    ok = {q: [a for a in xs if a["error"] is None] for q, xs in by_q.items()}
    best = {q: min(xs, key=lambda a: a["build_s"] + a["exec_s"]) for q, xs in ok.items() if xs}
    first = {q: xs[0] for q, xs in by_q.items() if xs and xs[0]["error"] is None}
    checks = gate.check_registry(data_dir, raw["oracle"], {
        q: (g["path"], g["error"]) for q, g in raw["gate"].items()})
    failed = sum(len(xs) - len(ok[q]) for q, xs in by_q.items())
    failed += sum(1 for good, _, _ in checks.values() if not good)
    failed += sum(1 for q in by_q if q not in best)  # a query that never ran is a failure
    best_s = {q: a["build_s"] + a["exec_s"] for q, a in best.items()}
    total = sum(best_s.values())
    out_rows = sum(rows for _, rows, _ in checks.values())
    e2e = {
        "total_s": total,
        "first_total_s": sum(a["build_s"] + a["exec_s"] for a in first.values()),
        "rows_per_s": out_rows / total if total else 0.0,
        # the median query: with an even count, the mean of the middle two
        "latency_p50_ms": statistics.median(v * 1e3 for v in best_s.values()) if best_s else 0.0,
        "latency_p99_ms": stats.percentile([v * 1e3 for v in best_s.values()], 99) if best_s else 0.0,
    }
    layers = dict(raw["layers"])
    traced = [a for a in attempts if a["traced"]]
    stream_build = sum(a["build_s"] for a in traced if "_stream_" in a["query"])
    layers.update({
        "registry.build_s": sum(a["build_s"] for a in best.values()),
        "registry.exec_s": sum(a["exec_s"] for a in best.values()),
        "stream.outside_trigger_s":
            stream_build - layers.get("stream.trigger_s", 0.0) if stream_build else 0.0,
        "sched.driver_only_s": raw["driver_only_s"],
    })
    layers.update({f"query.{q}.best_s": v for q, v in best_s.items()})
    if traced:
        def round_s(r):
            return sum(a["build_s"] + a["exec_s"] for a in attempts if a["round"] == r)
        layers["trace.overhead_s"] = round_s(2) - (round_s(1) + round_s(3)) / 2
    diag = {"attempts": len(attempts), "rounds": max(a["round"] for a in attempts) + 1,
            "gate": {q: d for q, (good, _, d) in checks.items()},
            "best_s": best_s, "prestages": raw["prestages"]}
    return e2e, layers, len(attempts) + len(checks), failed, diag


def denorm_metrics(raw, input_dir, work):
    failed_run = next((d["error"] for d in [raw, raw["first_drain"]] + raw["drains"]
                       if d.get("error")), None)
    manifest = json.load(open(os.path.join(input_dir, "manifest.json")))
    offered = manifest["backlog_rights"] + manifest["backlog_lefts"] + \
        manifest["schedule_lefts"] + manifest["schedule_updates"]
    out_dir = os.path.join(work, "denorm_out")
    if failed_run or not os.path.exists(os.path.join(out_dir, "compacted.jsonl")):
        return None, None, offered, offered, {"error": failed_run}
    mismatched, expected = gate.check_denorm(raw["topics"], os.path.join(out_dir, "compacted.jsonl"))
    t0 = raw["phase2_t0_ns"]
    samples = [tuple(map(int, l.split("\t"))) for l in open(os.path.join(out_dir, "samples.tsv"))
               if l.strip()]
    batches = [tuple(map(int, l.split("\t"))) for l in open(os.path.join(out_dir, "batches.tsv"))
               if l.strip()]
    right_dues = set()
    with open(os.path.join(input_dir, "schedule.tsv")) as f:
        for line in f:
            off, side, _ = line.split("\t", 2)
            if side == "R":
                right_dues.add(t0 + int(off))
    lat = stats.open_loop_latencies_ms(samples, t0)
    left = [(d, e) for d, e in samples if d >= t0 and d not in right_dues]
    right = [(d, e) for d, e in samples if d in right_dues]
    summary = stats.latency_summary(lat)
    phase2_batches = sorted(e for _, e, _ in batches if e >= t0)
    gaps = [(b - a) / 1e6 for a, b in zip(phase2_batches, phase2_batches[1:])]
    # the best of the warm drains, each on a fresh stream (Bench's
    # best-attempt rule): host contention only ever adds time
    drain = min(d["drain_s"] for d in raw["drains"])
    e2e = {
        "total_s": drain,
        # the first drain after set-up, cold: what a one-shot caller pays
        "first_total_s": raw["first_drain"]["drain_s"],
        "rows_per_s": raw["backlog_rows"] / drain,
        "latency_p50_ms": summary["p50_ms"],
        "latency_p99_ms": summary["p99_ms"],
    }
    layers = dict(raw["layers"])
    offer_wall = raw["start_s"] + raw["drain_s"] + raw["offer_s"]
    layers.update({
        "stream.outside_trigger_s": offer_wall - layers.get("stream.trigger_s", 0.0)
        if "stream.trigger_s" in layers else 0.0,
        "sched.driver_only_s": raw["driver_only_s"],
        "denorm.input_rows": offered,
        "denorm.emitted_rows": raw["emitted_rows"],
        "denorm.emit_per_right_update": len(right) / max(1, manifest["schedule_updates"]),
        "denorm.left_latency_p50_ms": stats.percentile([(e - d) / 1e6 for d, e in left], 50),
        "denorm.right_latency_p50_ms":
            stats.percentile([(e - d) / 1e6 for d, e in right], 50) if right else 0.0,
        "denorm.batch_p50_ms": stats.percentile(gaps, 50) if gaps else 0.0,
        "denorm.backlog_max_rows": stats.backlog_max(
            [d for d, _ in left], [e for _, e in left], phase2_batches),
        "denorm.generator_lag_ms": max((s - d) / 1e6 for s, d, _ in raw["sends"]),
    })
    diag = {"latency_samples": summary["samples"], "expected_keys": expected,
            "mismatched_keys": mismatched, "phase2_batches": len(phase2_batches),
            "offered_rows": offered, "sink_batches": raw["batches"],
            "drain_s": {"first": raw["first_drain"]["drain_s"],
                        "warm": [d["drain_s"] for d in raw["drains"]]}}
    if "local1_drain_s" in raw:  # traced run
        layers["baseline.local1_rows_per_s"] = raw["backlog_rows"] / raw["local1_drain_s"]
        layers["trace.overhead_s"] = raw["redrain_traced_s"] - raw["redrain_untraced_s"]
        # the single-core baseline's counterpart: the same warm drain at local[nproc]
        diag["warm_drain_rows_per_s"] = raw["backlog_rows"] / raw["redrain_untraced_s"]
    return e2e, layers, offered, mismatched, diag


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    state = os.path.join(root, ".bench_build", "perfbench")
    try:
        end_to_end, per_layer, queries = load_spec(root)
        cp = build.classpath(root, state)
    except (build.CheckoutError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    data_dir = os.path.join(root, "perfbench", "data", "sf0.1")
    work = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    nproc = record.nproc()
    heap = build.driver_heap()
    jargs = ["--workload", args.workload, "--work", work, "--data", data_dir,
             "--cpus", str(nproc), "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--reps", str(SETUP_REPS), "--out", os.path.join(work, "raw.json")]
    meta = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc, "heap": heap, "setup_reps": SETUP_REPS,
            "git_commit": record.git_commit(root), "source_digest": build.source_digest(root)}
    input_dir = os.path.join(work, "input")
    if args.workload == "denorm_stream":
        planned = gen.plan(data_dir, args.seed, args.seconds, DENORM["left_rate"],
                           DENORM["update_rate"], DENORM["backlog_lefts"], DENORM["gap_s"])
        meta["inputs"] = gen.write(input_dir, *planned, DENORM["rows_per_file"], DENORM)
        jargs += ["--input", input_dir, "--tick-ms", str(DENORM["tick_ms"]),
                  "--max-files", str(DENORM["max_files"]),
                  "--state-partitions", str(DENORM["state_partitions"]),
                  "--drains", str(DENORM["drains"])]
    else:
        meta["queries"] = registry_order(queries, args.seed)
        meta["inputs"] = {t: os.path.getsize(os.path.join(data_dir, t))
                          for t in sorted(os.listdir(data_dir))}
        jargs += ["--queries", ",".join(meta["queries"])]

    before = record.sample()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(build.java_command(cp, work, heap, jargs), cwd=root,
                                stdout=log, stderr=subprocess.STDOUT)
        deadline = time.monotonic() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                proc.kill()
                pid, status, usage = os.wait4(proc.pid, 0)
                print(f"perfbench: harness timed out after {JVM_TIMEOUT_S}s", file=sys.stderr)
                return 1
            time.sleep(0.05)
    meta["host"] = record.contamination(before, record.sample())
    t_jvm = time.monotonic()
    code = os.waitstatus_to_exitcode(status)
    raw_path = os.path.join(work, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        print(f"perfbench: harness exited with {code}; see {work}/jvm.log", file=sys.stderr)
        return 1
    raw = json.load(open(raw_path))

    if args.workload == "denorm_stream":
        e2e, layers, attempted, failed, diag = denorm_metrics(raw, input_dir, work)
    else:
        e2e, layers, attempted, failed, diag = registry_metrics(raw, data_dir)
    if e2e is None:
        print(f"perfbench: run failed: {diag}", file=sys.stderr)
        return 1
    meta["post_s"] = round(time.monotonic() - t_jvm, 3)
    e2e["setup_s"] = statistics.median(r["setup_s"] for r in raw["setup"])
    e2e["live_heap_mb"] = raw["live_heap_mb"]
    layers["sessions.create_s"] = statistics.median(r["session_s"] for r in raw["setup"])
    layers["prestage.build_s"] = statistics.median(r.get("prestage_s", 0.0) for r in raw["setup"])
    layers["prestage.calls"] = raw["setup"][-1].get("prestage_calls", 0)

    diag.update(meta=meta, failed_frac=failed / attempted, setup=raw["setup"],
                peak_rss_mb=usage.ru_maxrss / 1024.0,
                harness_wall_s=raw["wall_s"])
    if args.trace:
        spans = stats.resolve_parents(json.load(open(os.path.join(work, "spans.json"))))
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(spans, f)
        diag["span_self_s"] = stats.self_times(spans)
        diag["spans"] = {"file": os.path.join(work, "spans.json"), "count": len(spans)}
    chosen = per_layer if args.trace else end_to_end
    source = layers if args.trace else e2e
    metrics = {name: {"value": float(source.get(name, 0.0)), "unit": unit}
               for name, unit in chosen}
    diag["end_to_end"] = {n: {"value": e2e[n], "unit": u} for n, u in end_to_end}
    diag["failed_frac"] = {"value": failed / attempted, "unit": "fraction"}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump(dict(diag, metrics=metrics), f, indent=1, default=str)
    for name in os.listdir(work):
        if name not in ("result.json", "raw.json", "spans.json", "jvm.log"):
            path = os.path.join(work, name)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
    print(json.dumps({"perfbench": "diagnostics", **diag}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
