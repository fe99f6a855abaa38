"""Metric arithmetic for the benchmark: percentiles, span self times and the
per-layer roll-up of one traced run. Pure functions over the harness's
result.json, so each can be tested on synthetic input."""
import math
import statistics

MIB = 1048576.0
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0)


def tail_percentile(n, beyond=10):
    """The highest of TAIL_PERCENTILES that leaves at least `beyond` samples
    above it in a sample of `n`; None when even p90 does not."""
    for p in TAIL_PERCENTILES:
        if n * (1.0 - p / 100.0) >= beyond - 1e-9:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile (the smallest value with at least p% of the
    sample at or below it)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def self_times(spans, root_id):
    """Self time of every span under `root_id` (itself included).

    Each instant of the root's interval is charged to exactly one span: the
    deepest span covering it (the latest started among equals). Children
    are clipped to their parent, so the self times of a tree sum to the
    root's duration even when sibling spans overlap (concurrent jobs).

    `spans` is a list of dicts with id, parent, start_ns, end_ns; returns
    {span id: self ns}."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    byid = {s["id"]: s for s in spans}
    root = byid[root_id]
    # clipped interval and depth for every span in the subtree
    tree = []
    stack = [(root, 0, root["start_ns"], root["end_ns"])]
    while stack:
        s, depth, lo, hi = stack.pop()
        a, b = max(s["start_ns"], lo), min(s["end_ns"], hi)
        if b <= a and s is not root:
            continue
        tree.append((s["id"], depth, a, b))
        for c in by_parent.get(s["id"], []):
            stack.append((c, depth + 1, a, b))
    cuts = sorted({t for _, _, a, b in tree for t in (a, b)})
    out = {sid: 0 for sid, _, _, _ in tree}
    for lo, hi in zip(cuts, cuts[1:]):
        best = None
        for sid, depth, a, b in tree:
            if a <= lo and hi <= b:
                key = (depth, a)
                if best is None or key > best[0]:
                    best = (key, sid)
        if best is not None:
            out[best[1]] += hi - lo
    return out


def scheduler_spans(result):
    """Job and stage spans from the listener records, parented under the
    span whose job group submitted them (falling back to the innermost span
    open at submit time). Times are re-based onto the span clock."""
    rec = result.get("recorder") or {}
    spans = result["spans"]
    anchor = result["anchor_ms"]
    to_ns = lambda ms: (ms - anchor) * 1_000_000
    next_id = max((s["id"] for s in spans), default=0) + 1
    out, job_of = [], {}
    for j in rec.get("jobs", []):
        if j["end_ms"] < 0:
            continue
        start, end = to_ns(j["submit_ms"]), to_ns(j["end_ms"])
        group = j.get("group") or ""
        if group.startswith("span-"):
            parent = int(group[5:])
        else:
            open_ = [s for s in spans if s["start_ns"] <= start <= s["end_ns"]]
            parent = max(open_, key=lambda s: s["start_ns"])["id"] if open_ else -1
        sp = {"id": next_id, "parent": parent, "name": f"job{j['id']}", "kind": "job",
              "start_ns": start, "end_ns": end, "job": j}
        next_id += 1
        out.append(sp)
        for sid in j["stage_ids"]:
            job_of.setdefault(sid, []).append(sp)
    for st in rec.get("stages", []):
        if st["submit_ms"] < 0 or st["complete_ms"] < 0:
            continue
        start, end = to_ns(st["submit_ms"]), to_ns(st["complete_ms"])
        owners = [sp for sp in job_of.get(st["id"], [])
                  if sp["start_ns"] <= start <= sp["end_ns"]] or job_of.get(st["id"], [])
        if not owners:
            continue
        out.append({"id": next_id, "parent": owners[0]["id"], "name": f"stage{st['id']}",
                    "kind": "stage", "start_ns": start, "end_ns": end, "stage": st})
        next_id += 1
    return out


def _subtree(spans, root_id):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, stack = [], [root_id]
    while stack:
        sid = stack.pop()
        for c in kids.get(sid, []):
            out.append(c)
            stack.append(c["id"])
    return out


SELF_LAYERS = {"op": "op.self_ms", "step": "op.self_ms", "build": "op.build_ms",
               "plan": "op.plan_ms", "execute": "op.execute_ms",
               "job": "spark.job_ms", "stage": "spark.stage_ms"}


def op_layers(result, op, all_spans):
    """Per-layer numbers for one traced operation."""
    root = op["span"]
    sub = _subtree(all_spans, root)
    selfs = self_times(all_spans, root)
    kinds = {s["id"]: s["kind"] for s in all_spans}
    layer = {name: 0.0 for name in SELF_LAYERS.values()}
    for sid, ns in selfs.items():
        layer[SELF_LAYERS[kinds[sid]]] += ns / 1e6
    jobs = [s["job"] for s in sub if s["kind"] == "job"]
    stages = [s["stage"] for s in sub if s["kind"] == "stage"]
    first_launch = {}
    for s in sub:
        if s["kind"] == "stage" and s["stage"]["tasks"] > 0:
            first_launch.setdefault(s["parent"], []).append(s["stage"]["first_launch_ms"])
    waits = []
    for s in sub:
        if s["kind"] == "job" and s["id"] in first_launch:
            waits.append(max(0, min(first_launch[s["id"]]) - s["job"]["submit_ms"]))
    queries = [q for q in (result.get("recorder") or {}).get("queries", []) if q["op"] == op["i"]]
    qsum = lambda k: float(sum(q[k] for q in queries))
    layer.update({
        "spark.plan_ms": qsum("plan_ms"),
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(sum(st["tasks"] for st in stages)),
        "spark.sched_wait_ms": float(sum(waits)),
        "spark.task_s": sum(st["task_ms"] for st in stages) / 1000.0,
        "spark.gc_s": op["gc_ms"] / 1000.0,
        "spark.shuffle_mb": sum(st["shuffle_write_bytes"] for st in stages) / MIB,
        "spark.spill_mb": sum(st["spill_bytes"] for st in stages) / MIB,
        "spark.scan_mb": sum(st["input_bytes"] for st in stages) / MIB,
        "spark.storage_mb": op["storage_mb"],
        "io.files_read": qsum("files_read"),
        "io.rows_scanned": qsum("rows_scanned"),
        "io.index_rows_scanned": qsum("index_rows_scanned"),
        "io.files_written": qsum("files_written"),
        "io.write_mb": qsum("bytes_written") / MIB,
        "io.write_commit_ms": qsum("write_commit_ms"),
        "wall_ms": op["wall_ms"],
    })
    # the per-step split (pipeline stages, curation queries): wall, jobs, task-s
    steps = {}
    for s in sub:
        if s["kind"] == "step" and s["parent"] == root:
            st_sub = _subtree(all_spans, s["id"])
            st_stages = [x["stage"] for x in st_sub if x["kind"] == "stage"]
            steps[s["name"]] = {
                "s": (s["end_ns"] - s["start_ns"]) / 1e9,
                "jobs": float(sum(1 for x in st_sub if x["kind"] == "job")),
                "task_s": sum(st["task_ms"] for st in st_stages) / 1000.0}
    return layer, steps, sum(selfs.values()) / 1e6


def median_of(rows, key):
    vals = [r[key] for r in rows if key in r]
    return statistics.median(vals) if vals else 0.0
