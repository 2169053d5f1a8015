"""Trace summarizer: per-layer metrics and the self-time ledger.

`per_layer` turns one traced run (the harness's `result.json` plus its
`spans.jsonl`) into the per-layer metrics `run.py --trace 1` prints.

Batch workloads report warm figures per pass over the fixed warm passes
`ledger.KEPT_PASSES` (the passes `pass_s` uses), whatever number of
passes a run fits into its window, and the cold pass's figures apart
under `cold.`. event_stream figures are per run: its window lands a
number of slices fixed by `--seconds`.

`bench.trace_overhead_frac` is the traced JVM's figure against the
untraced JVM's of the same seed, both run by `run.py --trace 1`:
`pass_s` for batch, the slice latency median for event_stream.
`bench.op_p90_ms` is the untraced JVM's 90th-percentile operation
latency; it rests on 10 to 15 samples, one of them beyond it, so it is
reported here, without a bound, and not as an end-to-end metric.

Run as a script on the traces kept under `.bench_build/traces` to print
each workload's ledger: self time per layer, the per-query check that
the attributed layers never exceed the query's wall, and the tracing
overhead.

    python3 perfbench/summarize.py .bench_build/traces/iterative-1
"""
import argparse
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ledger  # noqa: E402

UNITS = {
    "io.schema_jobs": "count", "io.schema_ms": "ms",
    "queries.construct_ms": "ms", "queries.construct_jobs": "count",
    "graph.persisted_rdds": "count", "graph.storage_mb": "MiB",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.plans_per_query": "count",
    "codegen.compiles": "count", "jvm.jit_ms": "ms", "jvm.gc_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.launch_wait_ms": "ms", "sched.job_ms": "ms",
    "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.busy_frac": "ratio", "exec.shuffle_write_mb": "MiB",
    "exec.shuffle_read_mb": "MiB", "exec.spill_mb": "MiB",
    "exec.tasks_failed": "count", "exec.tasks_retried": "count",
    "sink.execute_ms": "ms",
    "sync.run_ms": "ms", "sync.files_hashed_per_copied": "ratio", "sync.jobs": "count",
    "stream.batches": "count", "stream.empty_batch_frac": "ratio",
    "stream.trigger_ms": "ms", "stream.latest_offset_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.view_apply_ms": "ms",
    "stream.commit_ms": "ms", "stream.planning_ms": "ms",
    "stream.state_rows": "count", "stream.state_mem_mb": "MiB",
    "storage.tmp_left_mb": "MiB",
    "unattributed_ms": "ms",
    "bench.gen_late_p90_ms": "ms", "bench.backlog_max": "count",
    "bench.trace_overhead_frac": "ratio", "bench.op_p90_ms": "ms",
}
UNITS.update({f"self_ms.{l}": "ms" for l in ledger.LAYERS})
UNITS.update({f"cold.self_ms.{l}": "ms" for l in ledger.LAYERS})
UNITS.update({"cold.unattributed_ms": "ms", "cold.codegen.compiles": "count",
              "cold.jvm.jit_ms": "ms", "cold.jvm.gc_ms": "ms"})
MB = 1048576.0


def _pass_windows(spans, passes):
    """[(start, end)] of the given batch passes."""
    return [(s["start"], s["end"]) for s in spans
            if s["kind"] == "pass" and int(s["pass"]) in passes]


def _inside(spans, windows):
    if windows is None:
        return list(spans)
    return [s for s in spans if any(a <= s["start"] < b for a, b in windows)]


def _jvm(res, key, passes):
    """Growth of a process-wide counter over the given passes."""
    at = res[key]
    return sum(at[p + 1] - at[p] for p in passes)


def layer_figures(kind, res, spans, segs, windows, norm):
    """Times and counts per layer of the spans inside `windows` (all of
    them when None), divided by `norm`."""
    by_kind = defaultdict(list)
    for s in _inside(spans, windows):
        by_kind[s["kind"]].append(s)
    jobs = [s for k in ledger.JOB_KINDS for s in by_kind[k]]
    stages = by_kind["stage"]
    wall = (sum(b - a for a, b in windows) if windows is not None else res["window_ms"])
    cores = os.cpu_count() or 1

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    def attr(ss, k):
        return sum(s.get(k, 0.0) for s in ss)

    first_launch = {}
    for st in stages:  # job submit -> first task, per job
        for j in jobs:
            if j["lane"] == st["lane"] and j["start"] <= st["start"] <= j["end"]:
                key = id(j)
                first_launch[key] = min(first_launch.get(key, st["first_launch"]),
                                        st["first_launch"])
    launch_wait = sum(max(0.0, first_launch[id(j)] - j["start"])
                      for j in jobs if id(j) in first_launch)
    cat = defaultdict(float)
    for s in by_kind["catalyst"]:
        cat[s["name"]] += s["end"] - s["start"]
    n_queries = len(by_kind["query"])
    rows = [r for r in ledger.query_ledgers(spans, segs)
            if windows is None or any(a <= r["start"] < b for a, b in windows)]
    if windows is None:
        self_ms = ledger.self_ms(segs)
    else:
        self_ms = defaultdict(float)
        for a, b in windows:
            for l, v in ledger.attribute(segs.get("main", []), a, b).items():
                self_ms[l] += v
    run_ms = attr(stages, "run_ms")
    m = {
        "io.schema_jobs": len(by_kind["io"]) / norm,
        "io.schema_ms": dur(by_kind["io"]) / norm,
        "queries.construct_ms": dur(by_kind["construct"]) / norm,
        "queries.construct_jobs": sum(1 for s in jobs if "|construct @" in s["name"]
                                      and s["kind"] != "io") / norm,
        "catalyst.analysis_ms": cat["analysis"] / norm,
        "catalyst.optimization_ms": cat["optimization"] / norm,
        "catalyst.planning_ms": cat["planning"] / norm,
        "catalyst.plans_per_query": (len([s for s in by_kind["catalyst"]
                                          if s["name"] == "analysis"]) / n_queries
                                     if n_queries else 0.0),
        "sched.jobs": len(jobs) / norm, "sched.stages": len(stages) / norm,
        "sched.tasks": attr(stages, "tasks") / norm,
        "sched.launch_wait_ms": launch_wait / norm, "sched.job_ms": dur(jobs) / norm,
        "exec.run_ms": run_ms / norm, "exec.cpu_ms": attr(stages, "cpu_ms") / norm,
        "exec.gc_ms": attr(stages, "gc_ms") / norm,
        "exec.busy_frac": run_ms / (wall * cores) if wall else 0.0,
        "exec.shuffle_write_mb": attr(stages, "shuffle_write_b") / MB / norm,
        "exec.shuffle_read_mb": attr(stages, "shuffle_read_b") / MB / norm,
        "exec.spill_mb": attr(stages, "spill_b") / MB / norm,
        "exec.tasks_failed": attr(stages, "tasks_failed") / norm,
        "exec.tasks_retried": attr(stages, "tasks_retried") / norm,
        "sink.execute_ms": dur(by_kind["execute"]) / norm,
        "unattributed_ms": sum(r["unattributed_ms"] for r in rows) / norm,
    }
    for l in ledger.LAYERS:
        m[f"self_ms.{l}"] = self_ms.get(l, 0.0) / norm
    return m, by_kind


def per_layer(kind, res, spans_path, tmp_left_mb, overhead, op_p90_ms):
    spans = ledger.load(spans_path)
    segs = ledger.segments(spans)
    kept = list(ledger.KEPT_PASSES)
    if kind == "batch":
        m, by_kind = layer_figures(kind, res, spans, segs, _pass_windows(spans, kept),
                                   float(len(kept)))
        cold, _ = layer_figures(kind, res, spans, segs, _pass_windows(spans, [0]), 1.0)
        for l in ledger.LAYERS:
            m[f"cold.self_ms.{l}"] = cold[f"self_ms.{l}"]
        m["cold.unattributed_ms"] = cold["unattributed_ms"]
        m["codegen.compiles"] = _jvm(res, "codegen_at_pass", kept) / len(kept)
        m["jvm.jit_ms"] = _jvm(res, "jit_at_pass", kept) / len(kept)
        m["jvm.gc_ms"] = _jvm(res, "gc_at_pass", kept) / len(kept)
        m["cold.codegen.compiles"] = _jvm(res, "codegen_at_pass", [0])
        m["cold.jvm.jit_ms"] = _jvm(res, "jit_at_pass", [0])
        m["cold.jvm.gc_ms"] = _jvm(res, "gc_at_pass", [0])
        m["graph.persisted_rdds"] = max(res["persisted_rdds_by_pass"][p] for p in kept)
    else:
        m, by_kind = layer_figures(kind, res, spans, segs, None, 1.0)
        m["codegen.compiles"] = res["codegen_compiles"]
        m["jvm.jit_ms"] = res["jit_ms"]
        m["jvm.gc_ms"] = res["gc_ms"]
        for k in [k for k in UNITS if k.startswith("cold.")]:
            m[k] = 0.0
        m["graph.persisted_rdds"] = 0.0
    jobs = [s for k in ledger.JOB_KINDS for s in by_kind[k]]
    triggers = by_kind["trigger"]
    phase = defaultdict(float)
    for s in by_kind["stream"]:
        phase[s["name"]] += s["end"] - s["start"]
    sync_runs = [r.split(",") for r in res.get("sync_runs", [])]
    copied = sum(int(r[2]) for r in sync_runs)

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss)

    m.update({
        "graph.storage_mb": res.get("storage_mb", 0.0),
        "sync.run_ms": dur(by_kind["sync"]),
        "sync.files_hashed_per_copied": (sum(int(r[1]) for r in sync_runs) / copied
                                         if copied else 0.0),
        "sync.jobs": sum(1 for s in jobs if s["lane"] == "sync"),
        "stream.batches": len(triggers),
        "stream.empty_batch_frac": (sum(1 for s in triggers if s.get("rows", 0) == 0)
                                    / len(triggers) if triggers else 0.0),
        "stream.trigger_ms": dur(triggers),
        "stream.latest_offset_ms": phase["latestOffset"],
        "stream.add_batch_ms": phase["addBatch"],
        "stream.view_apply_ms": dur(by_kind["view_apply"]),
        "stream.commit_ms": phase["walCommit"] + phase["commitOffsets"],
        "stream.planning_ms": phase["queryPlanning"],
        "stream.state_rows": max((s.get("state_rows", 0.0) for s in triggers), default=0.0),
        "stream.state_mem_mb": max((s.get("state_mem_b", 0.0) for s in triggers),
                                   default=0.0) / MB,
        "storage.tmp_left_mb": tmp_left_mb,
        "bench.gen_late_p90_ms": ledger.pct([x for x in res.get("gen_late_ms", [])
                                             if x is not None], 0.9),
        "bench.backlog_max": res.get("backlog_max", 0.0),
        "bench.trace_overhead_frac": overhead,
        "bench.op_p90_ms": op_p90_ms,
    })
    return {k: m[k] for k in UNITS}


def report(trace_dir):
    res = json.load(open(os.path.join(trace_dir, "result.json")))
    metrics = json.load(open(os.path.join(trace_dir, "metrics.json")))
    spans = ledger.load(os.path.join(trace_dir, "spans.jsonl"))
    segs = ledger.segments(spans)
    name = os.path.basename(trace_dir.rstrip("/"))
    kind = "batch" if "pass_ms" in res else "stream"
    print(f"== {name} ({kind})")
    if kind == "batch":
        kept = list(ledger.KEPT_PASSES)
        print(f"  self time by layer, ms per warm pass (passes {kept[0]}-{kept[-1]}) "
              "and in the cold pass:")
        for layer in ledger.LAYERS + ["unattributed"]:
            k = "unattributed_ms" if layer == "unattributed" else f"self_ms.{layer}"
            print(f"    {layer:14s} {metrics[k]:10.1f} {metrics['cold.' + k]:10.1f}")
    else:
        total = ledger.self_ms(segs)
        span_ms = sum(total.values()) or 1.0
        print("  self time by layer over the run, all lanes:")
        for layer, ms in sorted(total.items(), key=lambda x: -x[1]):
            print(f"    {layer:14s} {ms:10.1f} ms  {100 * ms / span_ms:5.1f}%")
    rows = ledger.query_ledgers(spans, segs)
    if rows:
        over = [r for r in rows if r["attributed_ms"] > r["wall_ms"] + 1e-6]
        esc = sum(r["escaped"] for r in rows)
        print(f"  {len(rows)} traced queries; attributed > wall in {len(over)}; "
              f"{esc} spans escape their query")
        agg = defaultdict(lambda: defaultdict(float))
        walls = defaultdict(list)
        for r in rows:
            if r["pass"] not in ledger.KEPT_PASSES:
                continue
            walls[r["query"]].append(r["wall_ms"])
            for l, v in r["layers"].items():
                agg[r["query"]][l] += v
            agg[r["query"]]["unattributed"] += r["unattributed_ms"]
        cols = ledger.LAYERS + ["unattributed"]
        print("  per query, mean ms per execution in the warm passes:")
        print("    " + f"{'query':22s} {'wall':>8s} " + " ".join(f"{c[:8]:>8s}" for c in cols))
        for q in sorted(agg):
            n = len(walls[q])
            print("    " + f"{q:22s} {sum(walls[q]) / n:8.1f} " +
                  " ".join(f"{agg[q][c] / n:8.1f}" for c in cols))
    print(f"  tracing overhead against the untraced JVM of the same seed: "
          f"{metrics['bench.trace_overhead_frac']:+.3f}")
    return 0 if all(r["attributed_ms"] <= r["wall_ms"] + 1e-6 for r in rows) else 1


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("trace_dirs", nargs="+")
    a = ap.parse_args()
    sys.exit(max(report(d) for d in a.trace_dirs))
