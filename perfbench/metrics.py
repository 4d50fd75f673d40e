"""Arithmetic of the benchmark: percentiles, span self time, interval
attribution and the end-to-end / per-layer metrics computed from the raw
run record the JVM driver writes (see perfbench/src/Main.scala).
"""
import bisect
import math
import statistics

PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

# registry_sf queries that run one of the corpus chain's operators
QUERY_OP = {
    "q49_repetition": "repetition",
    "g46_minhash_lsh": "minhash_lsh",
    "q98_setsim_join": "setsim_join",
    "q154_exact_substr": "exact_substr",
    "q94_inverted_index": "inverted_index",
    "q75_pca_gram": "pca_gram",
    "q74_jl_project": "jl_project",
}
CHAIN_OPS = ("repetition", "minhash_lsh", "setsim_join", "exact_substr",
             "inverted_index", "pca_gram", "jl_project", "pack")
STREAM_PHASES = (("latestOffset", "latest_offset_s"), ("walCommit", "wal_commit_s"),
                 ("queryPlanning", "query_planning_s"), ("addBatch", "add_batch_s"),
                 ("commitOffsets", "commit_offsets_s"))
MB = 1024.0 * 1024.0


def rank(p, n):
    """1-based nearest rank of the p-th percentile among n samples."""
    return math.ceil(round(p * n / 100.0, 9))


def nearest_rank(values, p):
    """The p-th percentile by nearest rank (p in (0, 100])."""
    xs = sorted(values)
    return xs[max(0, rank(p, len(xs)) - 1)]


def tail_percentile(values, min_beyond=10, candidates=PERCENTILES):
    """The highest candidate percentile with at least `min_beyond` samples
    strictly beyond its rank, as (p, value); None when even the lowest
    candidate lacks them.
    """
    n = len(values)
    for p in sorted(candidates, reverse=True):
        if n - rank(p, n) >= min_beyond:
            return p, nearest_rank(values, p)
    return None


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length([(s, e) for s, e in clipped if e > s])


def parallel_efficiency(executor_run_s, wall_s, cores):
    """Executor busy time against the wall-clock capacity of all cores."""
    return executor_run_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


class Intervals:
    """Non-overlapping (start, end, key) intervals; `find(t)` returns the key
    of the interval containing t (ends inclusive), or None.
    """

    def __init__(self, intervals):
        self.items = sorted(intervals)
        self.starts = [s for s, _, _ in self.items]

    def find(self, t):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.items[i][1]:
            return self.items[i][2]
        return None


def attribute(events, intervals, time_key="start_ms"):
    """Group events by the interval whose span contains their time."""
    idx = Intervals(intervals)
    out = {}
    for ev in events:
        key = idx.find(ev[time_key])
        if key is not None:
            out.setdefault(key, []).append(ev)
    return out


def wall(span):
    return (span["end_ms"] - span["start_ms"]) / 1000.0


def op_spans(raw, phase=None):
    return [s for s in raw["spans"] if s["name"] == "op" and
            (phase is None or s["attrs"]["phase"] == phase)]


def mix_walls(ops):
    """Wall of each whole mix: the summed wall of its ops."""
    by_mix = {}
    for o in ops:
        by_mix[o["attrs"]["mix"]] = by_mix.get(o["attrs"]["mix"], 0.0) + wall(o)
    return list(by_mix.values())


def end_to_end(raw):
    """Per op, the median wall and items over its timed executions; the mix
    is the sum of those medians, and the rate is over the item-carrying ops.
    """
    walls, items = {}, {}
    for o in op_spans(raw, "timed"):
        walls.setdefault(o["attrs"]["name"], []).append(wall(o))
        items.setdefault(o["attrs"]["name"], []).append(o["attrs"]["items"])
    med_items = {k: statistics.median(v) for k, v in items.items()}
    busy = sum(statistics.median(walls[k]) for k, n in med_items.items() if n)
    return {
        "setup_s": raw["setup_s"],
        "mix_s": sum(statistics.median(v) for v in walls.values()),
        "items_per_s": sum(med_items.values()) / busy if busy else 0.0,
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
    }


def latency_summary(raw):
    """Median and tail wall of the timed and traced ops, with the count."""
    ws = [wall(o) * 1000.0 for o in op_spans(raw, "timed") + op_spans(raw, "traced")]
    tail = tail_percentile(ws)
    return {"n": len(ws), "p50_ms": statistics.median(ws) if ws else None,
            "tail_pct": tail[0] if tail else None, "tail_ms": tail[1] if tail else None}


def per_layer(raw, rows_out=None):
    """Per-layer metrics of a traced run, per traced mix. `rows_out` maps
    span id -> result rows for ops whose output is counted outside the JVM.
    """
    rows_out = rows_out or {}
    spans = raw["spans"]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    traced = op_spans(raw, "traced")
    probes = op_spans(raw, "probe")
    n_mix = max(1, len({o["attrs"]["mix"] for o in traced}))
    cores = raw["cores"]
    m = {}

    def per_mix(x):
        return x / n_mix

    def kids(o, name):
        return [c for c in children.get(o["id"], []) if c["name"] == name]

    # synth / api / sources (generate)
    gen_ops = [o for o in traced if o["attrs"].get("layer") in ("fast", "interp", "api")]
    m["synth.construct_s"] = per_mix(sum(wall(c) for o in gen_ops
                                         if o["attrs"]["layer"] != "api"
                                         for c in kids(o, "construct")))
    for layer in ("fast", "interp"):
        twins = [p for p in probes if p["attrs"].get("layer") == layer]
        busy = sum(wall(p) for p in twins)
        m[f"synth.{layer}.rows_per_s"] = (sum(p["attrs"]["items"] for p in twins) / busy
                                         if busy else 0.0)
    m["api.enrich_s"] = per_mix(sum(wall(o) for o in gen_ops if o["attrs"]["layer"] == "api"))
    noop = {p["attrs"]["name"].split(":")[0]: wall(p) for p in probes
            if p["attrs"]["name"].endswith(":noop")}
    real = {}
    for o in gen_ops:
        real.setdefault(o["attrs"]["name"], []).append(wall(o))
    m["sources.sink_s"] = sum((statistics.median(v) - noop[k] for k, v in real.items() if k in noop),
                              0.0)
    sunk = [o for o in gen_ops if "sink_bytes" in o["attrs"]]
    rows = sum(o["attrs"]["items"] for o in sunk)
    m["sources.sink_bytes_per_row"] = (sum(o["attrs"]["sink_bytes"] for o in sunk) / rows
                                       if rows else 0.0)
    m["sources.input_splits"] = raw["info"].get("input_splits", 0)

    # ops: the corpus chain's steps, or the registry queries that run them
    for op in CHAIN_OPS:
        for phase in ("construct", "action"):
            m[f"ops.{op}.{phase}_s"] = 0.0
        m[f"ops.{op}.rows_out"] = 0.0
    for o in traced:
        name = o["attrs"]["name"]
        for phase in ("construct", "action"):
            for c in kids(o, phase):
                op = QUERY_OP.get(name) or c["attrs"].get("step")
                if op in CHAIN_OPS:
                    m[f"ops.{op}.{phase}_s"] += per_mix(wall(c))
        if name in QUERY_OP and o["id"] in rows_out:
            m[f"ops.{QUERY_OP[name]}.rows_out"] += per_mix(rows_out[o["id"]])
        for op in CHAIN_OPS:
            if f"{op}.rows" in o["attrs"]:
                m[f"ops.{op}.rows_out"] += per_mix(o["attrs"][f"{op}.rows"])
    cand = [p["attrs"] for p in probes if "candidates" in p["attrs"]]
    results = sum(a["results"] for a in cand)
    m["ops.setsim_join.candidates_per_result"] = (sum(a["candidates"] for a in cand) / results
                                                  if results else 0.0)
    recalls = [o["attrs"]["recall"] for o in traced if "recall" in o["attrs"]]
    m["ops.minhash_lsh.recall"] = statistics.mean(recalls) if recalls else 0.0

    # spark: listener events attributed to the traced ops by interval
    op_iv = [(o["start_ms"], o["end_ms"], o["id"]) for o in op_spans(raw)]
    traced_ids = {o["id"] for o in traced}
    ev = raw["spark_events"]
    jobs = [j for k, js in attribute(ev["jobs"], op_iv).items() if k in traced_ids for j in js]
    stages = [s for k, ss in attribute(ev["stages"], op_iv).items() if k in traced_ids
              for s in ss]
    construct_iv = [(c["start_ms"], c["end_ms"], c["id"]) for o in traced
                    for c in kids(o, "construct")]
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    m["spark.jobs"] = per_mix(len(jobs))
    m["spark.stages"] = per_mix(len(stages))
    m["spark.tasks"] = per_mix(sum(s["tasks"] for s in stages))
    m["spark.construct_jobs"] = per_mix(sum(len(v) for v in attribute(jobs, construct_iv).values()))
    m["spark.executor_run_s"] = per_mix(run_s)
    m["spark.executor_cpu_s"] = per_mix(sum(s["cpu_ns"] for s in stages) / 1e9)
    m["spark.gc_s"] = per_mix(sum(s["gc_ms"] for s in stages) / 1000.0)
    m["spark.parallel_efficiency"] = parallel_efficiency(run_s, sum(wall(o) for o in traced), cores)
    m["spark.single_task_stage_s"] = per_mix(sum((s["end_ms"] - s["start_ms"]) / 1000.0
                                                 for s in stages if s["num_tasks"] == 1))
    for key, field in (("input_mb", "input_bytes"), ("shuffle_write_mb", "shuffle_write_bytes"),
                       ("shuffle_read_mb", "shuffle_read_bytes"), ("spill_mb", "spill_bytes")):
        m[f"spark.{key}"] = per_mix(sum(s[field] for s in stages) / MB)

    # streaming: progress events of the traced ops
    progress = [p for k, ps in attribute(raw["stream_progress"], op_iv).items()
                if k in traced_ids for p in ps]
    m["streaming.batches"] = per_mix(len(progress))
    m["streaming.input_rows"] = per_mix(sum(p["input_rows"] for p in progress))
    for phase, key in STREAM_PHASES:
        m[f"streaming.{key}"] = per_mix(sum(p["duration_ms"].get(phase, 0) for p in progress)
                                        / 1000.0)
    m["streaming.state_commit_s"] = per_mix(sum(p["state_commit_ms"] for p in progress) / 1000.0)
    last = {}
    for p in progress:
        if p["batch"] >= last.get(p["query"], {"batch": -1})["batch"]:
            last[p["query"]] = p
    m["streaming.state_rows"] = per_mix(sum(p["state_rows"] for p in last.values()))
    m["streaming.state_mb"] = per_mix(sum(p["state_bytes"] for p in last.values()) / MB)
    for kind, key in (("stream", "streaming.tmp_leaked"), ("batch", "batch.tmp_leaked")):
        m[key] = per_mix(sum(o["attrs"]["tmp_leaked"] for o in traced
                             if o["attrs"]["kind"] == kind))
        m["mix.%s_s" % kind] = per_mix(sum(wall(o) for o in traced if o["attrs"]["kind"] == kind))

    untraced = mix_walls(op_spans(raw, "timed"))
    m["trace.overhead_s"] = (statistics.median(mix_walls(traced)) - statistics.median(untraced)
                             if untraced and traced else 0.0)
    return m


def trace_spans(raw):
    """The span file: the driver's op/construct/action spans plus job,
    stage and streaming-batch spans from the listeners, each parented to
    the op whose interval holds its start, with self time filled in.
    """
    spans = [dict(s) for s in raw["spans"]]
    ops = Intervals([(s["start_ms"], s["end_ms"], s["id"]) for s in spans if s["name"] == "op"])
    next_id = len(spans)

    def add(name, parent_op, start, end, attrs, parent=None):
        nonlocal next_id
        spans.append({"id": next_id, "parent": parent_op if parent is None else parent,
                      "op": parent_op, "name": name, "start_ms": start, "end_ms": end,
                      "attrs": attrs})
        next_id += 1
        return next_id - 1

    ev = raw["spark_events"]
    for kind, items in (("job", ev["jobs"]), ("stage", ev["stages"])):
        for e in items:
            op = ops.find(e["start_ms"])
            if op is not None:
                add(kind, op, e["start_ms"], e["end_ms"],
                    {k: v for k, v in e.items() if k not in ("start_ms", "end_ms")})
    for p in raw["stream_progress"]:
        op = ops.find(p["start_ms"])
        if op is None:
            continue
        total = p["duration_ms"].get("triggerExecution", 0)
        sid = add("stream.batch", op, p["start_ms"], p["start_ms"] + total,
                  {"query": p["query"], "batch": p["batch"], "input_rows": p["input_rows"]})
        t = p["start_ms"]
        for phase, _ in STREAM_PHASES:
            d = p["duration_ms"].get(phase, 0)
            add("stream." + phase, op, t, t + d, {}, parent=sid)
            t += d
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        s["self_s"] = self_time(s["start_ms"], s["end_ms"], kids.get(s["id"], [])) / 1000.0
    return spans
