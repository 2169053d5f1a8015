"""Runs one benchmark workload and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 15 --trace 0

Each run builds the program if its sources changed, reads the fixed
input tables under `perfbench/data/sf0.1` (the seed only permutes the
query order and draws the event slice sizes), starts one fresh JVM with
one Spark session at local[nproc], measures for `--seconds`, compares
the outputs with DuckDB's answers to the program's own oracle SQL (or,
for `event_stream`, with batch twins over the landed slices), and
prints as its last line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (`--trace 0`) or the per-layer ledger
(`--trace 1`). It exits 1 when an output is wrong. `--trace 1` runs an
untraced JVM and then a traced one on the same seed; the gap between
them is `bench.trace_overhead_frac`. Every JVM gets its own
`java.io.tmpdir`, Spark local dir and streaming scratch dir under
`.bench_build/runs`, deleted afterwards; what the program left there is
reported as `storage.tmp_left_mb`. A traced run keeps its spans, raw
result and metrics under `.bench_build/traces` for
`perfbench/summarize.py`; an untraced run keeps the harness's raw
result (per-pass and per-query times) under `.bench_build/results`.

`--corrupt-expected` perturbs one expected result before the comparison;
the run must then report `correct: false` (see `perfbench/selftest.py`).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
from ledger import KEPT_PASSES, pct  # noqa: E402

BUILD = build.BUILD

# The benchmark's input: byte copies of the project's sf0.1 synthetic test
# tables (seed 42) that the two workloads read. The seed never changes
# the data; it permutes the query order and draws the slice sizes.
DATA = os.path.join(HERE, "data", "sf0.1")

# The benchmark's workloads. `iterative` runs pass-major over its query
# list; see perfbench/README.md for why each query is in it.
WORKLOADS = {
    "iterative": {
        "kind": "batch",
        "queries": ["q_dedup_clusters", "q_hierarchy", "q_bucketed_join"]},
    "event_stream": {
        "kind": "stream", "slices": 400, "warmup": 4, "interval_ms": 2000},
}
JVM_TIMEOUT_S = 150
JAVA_OPTS = ["-Xmx2g", "-XX:-DontCompileHugeMethods",
             "-XX:ReservedCodeCacheSize=1g"]


def stage_slices(seed, n):
    """Splits events into n contiguous event-id slices of seed-drawn
    sizes, one parquet file each, named slice_<k>_<lo>_<hi>.parquet,
    cached under `.bench_build/slices`."""
    import numpy as np
    import pyarrow.parquet as pq
    d = os.path.join(BUILD, "slices", f"seed{seed}-n{n}")
    if os.path.exists(os.path.join(d, ".done")):
        return d
    ev = pq.read_table(os.path.join(DATA, "events.parquet")).sort_by("event_id")
    rng = np.random.default_rng(seed + 7919)
    sizes = rng.uniform(0.5, 1.5, n)
    cuts = np.concatenate([[0], np.cumsum(sizes) / sizes.sum() * ev.num_rows]).astype(int)
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ids = ev.column("event_id").to_numpy()
    for k in range(n):
        part = ev.slice(cuts[k], cuts[k + 1] - cuts[k])
        lo, hi = ids[cuts[k]], ids[cuts[k + 1] - 1]
        pq.write_table(part, os.path.join(tmp, f"slice_{k:04d}_{lo}_{hi}.parquet"))
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def java_cmd(cp, rundir, args):
    props = [f"-Djava.io.tmpdir={rundir}/tmp",
             f"-Dperfbench.localDir={rundir}/local",
             f"-Dgraft.stream.ephemeralDir={rundir}/eph"]
    return (["java"] + build.ADD_OPENS + JAVA_OPTS + props +
            ["-cp", cp, "perfbench.PerfBench"] +
            [f"{k}={v}" for k, v in args.items()])


def run_jvm(cmd, log):
    with open(log, "ab") as err:
        return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                              timeout=JVM_TIMEOUT_S, text=True)


def dir_mb(path):
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total / 1048576.0


def batch_metrics(res):
    passes = res["pass_ms"]
    warm = list(KEPT_PASSES)
    lat = []
    for s in res["samples"]:
        p, _, c, e, ok = s.split(",")
        if int(p) in warm and ok == "1":
            lat.append(float(c) + float(e))
    return {"cold_pass_s": passes[0] / 1000.0,
            "pass_s": statistics.median(passes[p] for p in warm) / 1000.0,
            "op_p50_ms": pct(lat, 0.5), "op_p90_ms": pct(lat, 0.9),
            "samples": len(lat)}


def stream_metrics(res):
    warm = [x for x in res["slice_latency_ms"][int(res["warmup"]) + 1:] if x is not None]
    return {"cold_pass_s": res["first_applied_ms"] / 1000.0,
            "pass_s": statistics.median(res["batch_ms"][int(res["warmup"]) + 1:]) / 1000.0,
            "op_p50_ms": pct(warm, 0.5), "op_p90_ms": pct(warm, 0.9),
            "samples": len(warm)}


def jvm_run(cp, rundir, w, a, trace, slices):
    """One fresh JVM running the workload in its own private tmp, local
    and ephemeral dirs under `rundir`, then the output check. Returns
    the harness's result (plus `setup_s`), {output: correct}, the failed
    operations and the MiB the program left in its private dirs."""
    for sub in ("tmp", "local", "eph", "out"):
        os.makedirs(os.path.join(rundir, sub))
    args = {"data": DATA, "out": f"{rundir}/out", "seconds": a.seconds,
            "seed": a.seed, "trace": trace}
    if w["kind"] == "batch":
        args.update(mode="batch", queries=",".join(w["queries"]))
    else:
        args.update(mode="stream", interval_ms=w["interval_ms"], warmup=w["warmup"],
                    slices=slices)
    t0 = time.time()
    r = run_jvm(java_cmd(cp, rundir, args), f"{rundir}/jvm.log")
    if r.returncode != 0:
        sys.stderr.write(open(f"{rundir}/jvm.log", errors="replace").read()[-3000:])
        raise SystemExit(f"perfbench: JVM exited with {r.returncode}")
    with open(f"{rundir}/out/result.json") as fh:
        res = json.load(fh)
    res["setup_s"] = res["ready_ms"] / 1000.0 - t0
    tmp_left = sum(dir_mb(f"{rundir}/{d}") for d in ("tmp", "local", "eph"))
    if w["kind"] == "batch":
        checks = oracle.check_batch(DATA, f"{rundir}/out", a.corrupt_expected)
        bad = {q for q, ok in checks.items() if not ok}
        failed = sum(1 for s in res["samples"]
                     if s.endswith(",0") or s.split(",")[1] in bad)
    else:
        checks = oracle.check_stream(slices, f"{rundir}/out",
                                     len(res["landed_slices"]), res["watermark"],
                                     a.corrupt_expected)
        failed = int(res["failed"])
        if not all(checks.values()):
            failed = int(res["attempted"])
    for name, ok in checks.items():
        if not ok:
            print(f"perfbench: wrong output: {name}", file=sys.stderr)
    for e in res.get("errors", []):
        print(f"perfbench: query failed: {e}", file=sys.stderr)
    return res, checks, failed, tmp_left


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true")
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    if not os.path.exists(os.path.join(DATA, "events.parquet")):
        raise SystemExit(f"perfbench: input tables missing under {DATA}")

    cp = build.build()
    slices = stage_slices(a.seed, w["slices"]) if w["kind"] == "stream" else None
    metrics_of = batch_metrics if w["kind"] == "batch" else stream_metrics
    base = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    try:
        # An untraced JVM always runs: it gives the end-to-end metrics
        # (--trace 0) or the baseline the traced JVM's tracing overhead
        # is measured against (--trace 1).
        res, checks, failed, tmp_left = jvm_run(cp, os.path.join(base, "plain"), w, a,
                                                0, slices)
        attempted = int(res["attempted"])
        m = metrics_of(res)
        if a.trace:
            tres, tchecks, tfailed, tmp_left = jvm_run(cp, os.path.join(base, "traced"),
                                                       w, a, 1, slices)
            attempted += int(tres["attempted"])
            failed += tfailed
            checks.update({f"traced {k}": v for k, v in tchecks.items()})
            tm = metrics_of(tres)
            key = "pass_s" if w["kind"] == "batch" else "op_p50_ms"
            overhead = tm[key] / m[key] - 1.0
            import summarize
            metrics = summarize.per_layer(w["kind"], tres, f"{base}/traced/out/spans.jsonl",
                                          tmp_left, overhead, m["op_p90_ms"])
            keep = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in ("spans.jsonl", "result.json"):
                shutil.copy(f"{base}/traced/out/{f}", keep)
            with open(os.path.join(keep, "metrics.json"), "w") as fh:
                json.dump(metrics, fh)
            units = summarize.UNITS
        else:
            keep = os.path.join(BUILD, "results", f"{a.workload}-{a.seed}.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            with open(keep, "w") as fh:
                json.dump(res, fh)
            metrics = {"setup_s": res["setup_s"],
                       "cold_pass_s": m["cold_pass_s"], "pass_s": m["pass_s"],
                       "op_p50_ms": m["op_p50_ms"],
                       "retained_heap_mb": res["retained_heap_mb"]}
            units = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
                     "op_p50_ms": "ms", "retained_heap_mb": "MiB"}
            print(f"perfbench: {a.workload} seed {a.seed}: {m['samples']} latency "
                  f"samples (p90 {m['op_p90_ms']:.1f} ms, not gated: one sample beyond "
                  f"it), {len(res.get('pass_ms', []))} passes", file=sys.stderr)
        correct = failed == 0 and all(checks.values())
    finally:
        shutil.rmtree(base, ignore_errors=True)

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
