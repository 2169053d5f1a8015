"""Per-layer ledger from the spans of a traced run.

Spans come from `spans.jsonl`, one JSON object per line with `lane`,
`kind`, `name`, `start`, `end` (epoch ms) and optional numeric attributes.
A lane is one thread of work (the batch main thread, a streaming query,
the sync loop); spans of different lanes may overlap in time and are
attributed separately.

Self time: within a lane, every instant belongs to the deepest span
active at that instant (depth by kind, then the later start). A span's
self time is its duration minus the part its child spans cover, and the
self times inside a query add up to exactly its wall, so the attributed
layers can never exceed it. Spans that stick out of the query they
belong to are counted as `escaped` so a broken hierarchy shows.
"""
import bisect
import json
from collections import defaultdict

# depth of each span kind in the hierarchy run > pass > query >
# {construct, execute} > catalyst > job > stage > tasks; streaming:
# trigger > phase > view apply > job.
DEPTH = {"pass": 1, "query": 2, "trigger": 2, "sync": 2,
         "construct": 3, "execute": 3, "stream": 3, "view_apply": 4,
         "catalyst": 5, "io": 6, "graph": 6, "sched": 6,
         "stage": 7, "exec": 8}
LAYER = {"pass": "bench", "query": "unattributed", "trigger": "stream",
         "sync": "sync", "construct": "queries", "execute": "sink",
         "stream": "stream", "view_apply": "stream", "catalyst": "catalyst",
         "io": "io", "graph": "graph", "sched": "sched", "exec": "exec"}
LAYERS = ["io", "queries", "graph", "catalyst", "sched", "exec", "sink",
          "sync", "stream"]
JOB_KINDS = ("io", "graph", "sched")

# Warm passes the batch metrics use: the same pass numbers in every run
# (the harness makes at least 11 warm passes), after the first six warm
# passes, whose times still fall as the JIT compiles (by about a third
# from pass 1 to pass 6 on iterative). A rule that kept "the last passes"
# would let a faster run keep warmer passes than a slower one and widen
# run-to-run differences.
KEPT_PASSES = range(7, 12)


def pct(xs, p):
    """Percentile by linear interpolation between closest ranks; 0 when
    there are no values."""
    if not xs:
        return 0.0
    s = sorted(xs)
    r = p * (len(s) - 1)
    lo, hi = int(r), min(int(r) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def load(path):
    """Spans of a run, the harness's own left out. Jobs and stages of a SQL execution that ran a
    graph-layer job (a localCheckpoint) belong to the graph layer."""
    with open(path) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    # lane "bench" is the harness's own work (event_stream's slice
    # identification), never a layer of the program
    spans = [s for s in spans if s["lane"] != "bench"]
    graph = {s["exec_id"] for s in spans
             if s["kind"] == "graph" and s.get("exec_id", -1) >= 0}
    for s in spans:
        if s.get("exec_id", -1) in graph:
            if s["kind"] == "sched":
                s["kind"] = "graph"
            elif s["kind"] == "stage":
                s["name"] = "graph"
    return spans


def layer_of(span):
    """A stage's layer is its job's (named in the stage span)."""
    return span["name"] if span["kind"] == "stage" else LAYER[span["kind"]]


def segments(spans):
    """Per lane: sorted list of (t0, t1, layer) covering every instant
    some span of the lane is active, attributed to the deepest one."""
    by_lane = defaultdict(list)
    for s in spans:
        if s["end"] > s["start"] and s["kind"] in DEPTH:
            by_lane[s["lane"]].append(s)
    out = {}
    for lane, ss in by_lane.items():
        events = sorted({s["start"] for s in ss} | {s["end"] for s in ss})
        starts = sorted(ss, key=lambda s: s["start"])
        active, segs, i = [], [], 0
        for a, b in zip(events, events[1:]):
            while i < len(starts) and starts[i]["start"] <= a:
                active.append(starts[i])
                i += 1
            active = [s for s in active if s["end"] > a]
            if active:
                top = max(active, key=lambda s: (DEPTH[s["kind"]], s["start"]))
                segs.append((a, b, layer_of(top)))
        out[lane] = segs
    return out


def attribute(segs, t0, t1):
    """Milliseconds per layer of the segments inside [t0, t1)."""
    acc = defaultdict(float)
    i = bisect.bisect_left(segs, (t0, t0, ""))
    if i > 0 and segs[i - 1][1] > t0:
        i -= 1
    while i < len(segs) and segs[i][0] < t1:
        a, b, layer = segs[i]
        acc[layer] += max(0.0, min(b, t1) - max(a, t0))
        i += 1
    return acc


def query_ledgers(spans, segs):
    """One row per traced query: wall, per-layer self ms, escaped spans."""
    lane = segs.get("main", [])
    queries = sorted((s for s in spans if s["kind"] == "query"),
                     key=lambda s: s["start"])
    starts = [q["start"] for q in queries]
    escaped = defaultdict(int)
    for s in spans:
        if s["lane"] == "main" and s["kind"] in JOB_KINDS + ("catalyst",):
            k = bisect.bisect_right(starts, s["start"]) - 1
            if k >= 0 and s["start"] < queries[k]["end"] < s["end"] - 1.0:
                escaped[k] += 1
    rows = []
    for k, q in enumerate(queries):
        acc = attribute(lane, q["start"], q["end"])
        wall = q["end"] - q["start"]
        attributed = sum(v for l, v in acc.items() if l in LAYERS)
        rows.append({"query": q["name"], "pass": int(q.get("pass", -1)),
                     "start": q["start"], "wall_ms": wall, "attributed_ms": attributed,
                     "unattributed_ms": acc.get("unattributed", 0.0),
                     "layers": {l: acc.get(l, 0.0) for l in LAYERS},
                     "escaped": escaped[k]})
    return rows


def self_ms(segs):
    acc = defaultdict(float)
    for lane_segs in segs.values():
        for a, b, layer in lane_segs:
            acc[layer] += b - a
    return acc
