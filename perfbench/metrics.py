"""Pure computations of the benchmark: percentiles, span self time,
job attribution, failure accounting, and the metrics of one run's
artifact. No I/O; `run.py` feeds it and `tests/` checks it."""

import math
import statistics

# Percentiles the tail rule may pick, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values, min_beyond=10):
    """The highest candidate percentile with at least `min_beyond`
    samples above it, as (percentile, value). With too few samples for
    any candidate it falls back to the median."""
    n = len(values)
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(interval, bounds):
    s, e = max(interval[0], bounds[0]), min(interval[1], bounds[1])
    return (s, e) if e > s else None


def attach_jobs(spans, jobs):
    """Makes each Spark job a child span of the deepest span that was
    open when the job started. Returns the spans plus one span per job,
    named `job`."""
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] in by_id:
            s, d = by_id[s["parent"]], d + 1
        return d

    depths = {s["id"]: depth(s) for s in spans}
    out = list(spans)
    next_id = max(by_id) + 1 if by_id else 0
    for j in jobs:
        open_spans = [s for s in spans if s["start"] <= j["start"] <= s["end"]]
        if not open_spans:
            continue
        parent = max(open_spans, key=lambda s: (depths[s["id"]], s["start"]))
        out.append({"id": next_id, "parent": parent["id"], "name": "job",
                    "start": j["start"], "end": max(j["end"], j["start"])})
        next_id += 1
    return out


def self_times(spans):
    """Self time of each span: its duration minus the part of its
    interval that its children cover. Returns {span id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        bounds = (s["start"], s["end"])
        covered = [c for c in (clip((k["start"], k["end"]), bounds)
                               for k in children.get(s["id"], [])) if c]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(covered)
    return out


def descendants(spans, root_id):
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    stack, out = [root_id], []
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c["id"])
    return out


def count_failures(attempted, failures):
    """Failure accounting. Each failure names the operation it belongs
    to (`op`); several failures of one operation count once. A failure
    of the run itself (`op` is "run") fails every attempted operation.
    Returns (attempted, failed, correct); attempted is at least 1."""
    attempted = max(1, attempted)
    ops = {f["op"] for f in failures}
    failed = attempted if "run" in ops else min(attempted, len(ops))
    return attempted, failed, not failures


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(art):
    """End-to-end metrics of an untraced run (or the untraced passes of
    a traced one), with the tail percentile and its sample count."""
    plain = [p for p in art.get("passes", []) if not p["traced"]]
    if art["workload"] == "stream":
        ops = [ms for p in plain for ms in p["trigger_ms"]]
    else:
        ops = [1e3 * (k["construct_s"] + k["plan_s"] + k["execute_s"])
               for p in plain for k in p["keys"] if k["ok"]]
    if not plain or not ops:
        return None
    tail_p, tail_v = tail(ops)
    return {
        "metrics": {
            "setup_s": median(art["setup_s"]),
            "pass_s": median([p["pass_s"] for p in plain]),
            "op_p50_ms": percentile(ops, 50.0),
            "op_tail_ms": tail_v,
            "heap_peak_mb": art["heap_peak_mb"],
        },
        "tail_percentile": tail_p,
        "op_samples": len(ops),
    }


TRUNKS = ("graph_adj",)
STREAM_KEYS = ("add_batch_ms", "query_planning_ms", "wal_commit_ms",
               "commit_ms", "state_commit_ms")


def per_layer(art, n_cpu, scratch_left_mb):
    """Per-layer metrics of a traced run. Counters are per traced pass
    (median over the traced passes); a layer a workload does not run
    reads 0."""
    spans = attach_jobs(art["spans"], art["jobs"])
    selfs = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    traced = [p for p in art["passes"] if p["traced"]]
    plain = [p for p in art["passes"] if not p["traced"]]
    pass_spans = [s for s in spans if s["name"] == "pass"]
    # timed passes are the last len(passes) pass spans, in order
    timed_spans = pass_spans[len(pass_spans) - len(art["passes"]):]
    rows = []
    for rec, span in zip(art["passes"], timed_spans):
        if not rec["traced"]:
            continue
        inside = descendants(spans, span["id"])
        jobs = [s for s in inside if s["name"] == "job"]
        row = {k: v for k, v in rec["layers"].items() if isinstance(v, (int, float))}
        keys = rec.get("keys", [])
        row["queries.construct_s"] = sum(k["construct_s"] for k in keys)
        row["catalyst.plan_s"] = sum(k["plan_s"] for k in keys)
        row["exec.action_s"] = sum(k["execute_s"] for k in keys)
        row["queries.construct_self_s"] = sum(
            selfs[s["id"]] for s in inside if s["name"] == "construct") / 1e9
        row["queries.construct_jobs"] = sum(
            1 for j in jobs if by_id[j["parent"]]["name"] == "construct")
        pass_ns = span["end"] - span["start"]
        busy = union_length([c for c in (clip((j["start"], j["end"]),
                                              (span["start"], span["end"]))
                                         for j in jobs) if c])
        row["driver.nojob_s"] = (pass_ns - busy) / 1e9
        if keys:
            row["pass.other_s"] = rec["pass_s"] - sum(
                k["construct_s"] + k["plan_s"] + k["execute_s"] for k in keys)
        row["spark.cpu_util"] = row.get("spark.executor_cpu_s", 0.0) / (rec["pass_s"] * n_cpu)
        progress = rec["layers"].get("streaming.progress", [])
        row["streaming.batches"] = len(progress)
        for k in STREAM_KEYS:
            row[f"streaming.{k}"] = median([b[k] for b in progress])
        row["streaming.state_rows"] = max([b["state_rows"] for b in progress], default=0)
        row["streaming.state_mem_mb"] = max([b["state_mem_mb"] for b in progress], default=0.0)
        rows.append(row)
    names = sorted({k for r in rows for k in r})
    out = {k: median([r.get(k, 0.0) for r in rows]) for k in names}
    for t in TRUNKS:
        out[f"setup.{t}_s"] = median(art.get("setup_trunk_s", {}).get(t, []))
    untraced_pass = median([p["pass_s"] for p in plain])
    traced_pass = median([p["pass_s"] for p in traced])
    out["trace.overhead_frac"] = traced_pass / untraced_pass - 1 if untraced_pass else 0.0
    out["warmup.pass_s"] = median(art.get("warmup_pass_s", []))
    out["host.canary_s"] = median(art.get("canary_s", []))
    out["tables.scratch_left_mb"] = scratch_left_mb
    if art["workload"] == "stream":
        out["streaming.events_per_s"] = median(
            [p["events"] / p["pass_s"] for p in plain if p["pass_s"] > 0])
    else:
        out["streaming.events_per_s"] = 0.0
    return out
