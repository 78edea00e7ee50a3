"""End-to-end and per-layer metrics from one JVM result file."""

import math
import re
import statistics

# The end-to-end metrics BENCHMARK.json lists. op_p50_s and op_p90_s are
# printed and recorded but not listed: query_suite's median op moved by
# 0.17-0.22 (quartile distance over median) across ten runs on a 4-core
# shared host, near the largest bound allowed, while its pass time moved
# by 0.09-0.20.
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("live_heap_mb", "MB")]

# Spans the graph workloads open around one program call each, and the
# counters reported for them.
_SPAN_STATS = {
    "snap.load": ["s", "jobs", "tasks", "cpu_s", "shuffle_mb", "cached_mb"],
    "golden.render": ["s", "jobs", "tasks", "cpu_s", "shuffle_mb"],
    "golden.write": ["s", "bytes"],
    "snap.clustering": ["s", "jobs", "tasks", "cpu_s", "shuffle_mb", "shuffle_rows", "spill_mb", "join_rows"],
    "snap.centrality": ["s", "cpu_s", "shuffle_rows"],
    "snap.kcore": ["s", "jobs", "shuffle_mb"],
    "graphx.cc_star": ["s", "jobs", "tasks", "cpu_s", "shuffle_mb"],
    "graphx.pagerank": ["s", "jobs", "tasks", "cpu_s", "shuffle_mb"],
}
# query_suite's op spans, one per program module.
MODULES = ["relational", "ext", "sources", "graphx", "streaming"]
_QUERY = ["build_s", "plan_s", "jobs", "tasks", "exec_s", "cpu_s", "shuffle_mb", "spill_mb"]
_BATCH = [("trigger_ms", "triggerExecution"), ("plan_ms", "queryPlanning"), ("get_batch_ms", "getBatch"),
          ("add_batch_ms", "addBatch"), ("wal_commit_ms", "walCommit"), ("latest_offset_ms", "latestOffset")]
_RENDER = ["proofs", "counts", "clustering"]
STREAMS = ["sessionize", "interval_join", "windowed_topk", "transform_sessions"]

# The per-layer metrics the benchmark's workloads report (BENCHMARK.json).
PER_LAYER = (
    ["sessions.local.s"]
    + [f"snap.load.{k}" for k in _SPAN_STATS["snap.load"]]
    + [f"golden.render.{k}" for k in _SPAN_STATS["golden.render"]]
    + [f"golden.render.{k}_s" for k in _RENDER]
    + ["golden.render.clustering_shuffle_rows", "golden.render.clustering_join_rows", "golden.render.rows_per_wedge"]
    + [f"golden.write.{k}" for k in _SPAN_STATS["golden.write"]]
    + [f"{m}.s" for m in MODULES]
    + [f"query.{k}" for k in _QUERY + ["core_use", "straggler_max"]]
    + [f"streaming.batch.{k}" for k, _ in _BATCH]
    + ["streaming.state_rows_max", "streaming.state_mem_mb"]
    + ["gen.s", "gen.edge_lines", "gen.sum_deg2", "gen.triangles"]
    + ["trace.overhead_frac", "trace.unattributed_frac"]
)


def unit(name):
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_ms"):
        return "ms"
    if last == "s" or last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last == "bytes":
        return "bytes"
    if last.endswith("_frac") or last in ("rows_per_wedge", "core_use", "straggler_max"):
        return "ratio"
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs, q=0.9, beyond=10):
    """The q-quantile of `xs`, or None when fewer than `beyond` samples lie
    above it (too few to say anything about that tail)."""
    if not xs:
        return None
    s = sorted(xs)
    k = min(len(s) - 1, math.ceil(q * len(s)) - 1)
    return s[k] if len(s) - 1 - k >= beyond else None


def end_to_end(res):
    ops = [o["s"] for o in res["ops"]]
    return {
        "setup_s": median(res["setup_s"]),
        "op_p50_s": median(ops),
        "op_p90_s": tail_percentile(ops),
        "pass_s": median([p["s"] for p in res["passes"]]),
        "live_heap_mb": res["live_heap_mb"],
        "ops": len(ops),
    }


class _Tree:
    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)

    @staticmethod
    def wall(s):
        return s["end"] - s["start"]

    def subtree(self, s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += self.kids.get(x["id"], [])
        return out

    def total(self, s, key):
        return sum(x[key] for x in self.subtree(s))

    def under(self, roots, name):
        return [x for r in roots for x in self.subtree(r) if x["name"] == name]


def per_layer(res, gen):
    """Every per-layer metric the run's spans give (0 where the workload
    never calls the layer). Traced passes give the op-level numbers; layers
    called only during set-up are read from the set-up spans."""
    t = _Tree(res["spans"])
    cpus = res["cpus"]
    passes = [s for s in res["spans"] if s["name"] == "pass"]
    traced = [s for s, p in zip(passes, res["passes"]) if p["traced"]]
    setups = [s for s in res["spans"] if s["name"] == "setup"]

    def spans_of(name):
        return t.under(traced, name) or t.under(setups, name)

    def stat(s, k):
        if k == "s":
            return t.wall(s)
        if k == "join_rows":
            return max(x[k] for x in t.subtree(s))
        return s["extra"][k] if k in s["extra"] else t.total(s, k)

    m = {"sessions.local.s": median([t.wall(s) for s in t.under(setups, "sessions.local")])}
    for span, stats in _SPAN_STATS.items():
        ss = spans_of(span)
        for k in stats:
            m[f"{span}.{k}"] = median([stat(s, k) for s in ss])

    # golden.render is three collects; each is one SQL execution whose
    # call site names its line in Golden.scala, in source order.
    split = {k: [] for k in _RENDER + ["rows", "joins"]}
    for s in spans_of("golden.render"):
        by_line = {}
        for q in res["sql"]:
            hit = re.search(r"Golden\.scala:(\d+)", q["site"])
            if hit and s["start_ms"] <= q["start_ms"] <= s["end_ms"]:
                by_line.setdefault(int(hit.group(1)), []).append(q)
        if len(by_line) == 3:
            qs = [by_line[k] for k in sorted(by_line)]
            for k, group in zip(_RENDER, qs):
                split[k].append(sum(q["end_ms"] - q["start_ms"] for q in group) / 1e3)
            split["rows"].append(sum(q["shuffle_rows"] for q in qs[2]))
            # The render's largest join is the clustering wedge join.
            split["joins"].append(s["join_rows"])
    for k in _RENDER:
        m[f"golden.render.{k}_s"] = median(split[k])
    m["golden.render.clustering_shuffle_rows"] = median(split["rows"])
    m["golden.render.clustering_join_rows"] = median(split["joins"])
    # Rows the wedge join emits per generated wedge (Σdeg²): the waste an
    # O(E^1.5) triangle enumeration would cut.
    sum_deg2 = gen.get("sum_deg2", 0)
    m["golden.render.rows_per_wedge"] = m["golden.render.clustering_join_rows"] / sum_deg2 if sum_deg2 else 0.0
    m["snap.clustering.rows_per_wedge"] = m["snap.clustering.join_rows"] / sum_deg2 if sum_deg2 else 0.0

    # query_suite: seconds and counts summed over a pass, ratios as the
    # median across queries.
    sums = {k: [] for k in _QUERY + [f"{x}.s" for x in MODULES]}
    core_use, straggler = [], []
    for p in traced:
        acc = dict.fromkeys(sums, 0.0)
        for q in [x for x in t.kids.get(p["id"], []) if x["name"] in MODULES]:
            acc[f"{q['name']}.s"] += t.wall(q)
            execs = t.under([q], "query.exec")
            plan = sum(x["plan_s"] for x in execs)
            acc["build_s"] += sum(t.wall(x) for x in t.under([q], "query.build"))
            acc["plan_s"] += plan
            acc["exec_s"] += sum(t.wall(x) for x in execs) - plan
            for k in ("jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb"):
                acc[k] += t.total(q, k)
            core_use.append(t.total(q, "task_s") / (t.wall(q) * cpus))
            straggler.append(max(x["straggler_max"] for x in t.subtree(q)))
        for k, v in acc.items():
            sums[k].append(v)
    for x in MODULES:
        m[f"{x}.s"] = median(sums.pop(f"{x}.s"))
    for k, v in sums.items():
        m[f"query.{k}"] = median(v)
    m["query.core_use"] = median(core_use)
    m["query.straggler_max"] = median(straggler)

    batches = [b for p in traced for x in t.subtree(p) for b in x["batches"]]
    for k, key in _BATCH:
        m[f"streaming.batch.{k}"] = median([b[key] for b in batches])
    m["streaming.state_rows_max"] = max([b["state_rows"] for b in batches], default=0.0)
    m["streaming.state_mem_mb"] = max([b["state_mb"] for b in batches], default=0.0)
    m["streaming.replay_write.s"] = median([t.wall(s) for s in t.under(setups, "streaming.replay_write")])
    for q in STREAMS:
        m[f"streaming.{q}.batch_p50_ms"] = median([b["triggerExecution"] for x in t.under(traced, f"streaming.{q}")
                                                   for y in t.subtree(x) for b in y["batches"]])

    for k in ("s", "edge_lines", "sum_deg2", "triangles"):
        m[f"gen.{k}"] = gen.get(k, 0)

    on = median([p["s"] for p in res["passes"] if p["traced"]])
    off = median([p["s"] for p in res["passes"] if not p["traced"]])
    m["trace.overhead_frac"] = on / off - 1 if on and off else 0.0
    # Share of the traced passes' wall outside every layer span, i.e. what
    # the layer spans' self times leave unaccounted.
    frame = ("pass", "op")
    layer = [x for p in traced for x in t.subtree(p)
             if x["name"] not in frame and t.by_id[x["parent"]]["name"] in frame]
    tot = sum(t.wall(p) for p in traced)
    m["trace.unattributed_frac"] = 1 - sum(t.wall(x) for x in layer) / tot if tot else 0.0
    return m
