"""Pure metric logic over the raw run record the JVM side writes.

Kept free of I/O so `test_metrics.py` can check each rule on hand-made
inputs: the tail-percentile rule, interval unions (self time, driver gap),
write accounting from directory listings, and the per-layer roll-ups.
"""
import statistics

def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, samples_beyond, n). With n samples sorted,
    that is the (beyond+1)-th largest, at percentile 100·(n-beyond)/n. With
    too few samples for any such percentile it falls back to the maximum,
    reported as percentile 100 with 0 samples beyond.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0, 0
    if n <= beyond:
        return xs[-1], 100.0, 0, n
    v = xs[n - beyond - 1]
    return v, 100.0 * (n - beyond) / n, sum(1 for x in xs if x > v), n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - union_length(children, span[0], span[1])


def written_bytes(before, after):
    """Bytes written between two listings {path: bytes}: every file that is
    new, or whose size changed, counts in full. Deleted files write nothing.
    """
    return sum(size for path, size in after.items() if before.get(path) != size)


def files_written(before, after):
    return sum(1 for path, size in after.items() if before.get(path) != size)


def merged(listing):
    """One {role/path: bytes} map from a {role: {path: bytes}} listing."""
    return {f"{role}/{p}": b for role, files in listing.items() for p, b in files.items()}


def pass_writes(listings, prefix=""):
    """(bytes, files) written over a pass's consecutive listings, counting
    only paths that start with `prefix`."""
    flat = [{p: b for p, b in merged(l).items() if p.startswith(prefix)} for l in listings]
    return (sum(written_bytes(a, b) for a, b in zip(flat, flat[1:])),
            sum(files_written(a, b) for a, b in zip(flat, flat[1:])))


# ---------------------------------------------------------------- end to end

def end_to_end(rec):
    """The end-to-end metrics of one untraced run, plus the details printed
    beside them (tail percentile, sample counts, failure reasons)."""
    ops, passes = rec["ops"], rec["passes"]
    bad_passes = {p["pass"] for p in passes if p["check"]}
    failed = [o for o in ops if not o["ok"] or o["pass"] in bad_passes]
    ok = [o for o in ops if o["ok"] and o["pass"] not in bad_passes]
    lat = [o["ms"] for o in ok]
    clean = [p for p in passes if p["pass"] not in bad_passes
             and all(o["ok"] for o in ops if o["pass"] == p["pass"])]
    tv, tp, tb, tn = tail(lat)
    reps = rec["setup_reps"]
    setup = (rec["jvm_start_ms"] / 1000.0
             + median(r["session_s"] + r["generate_s"] for r in reps)
             + rec["prepare_s"] + rec["warm_s"])
    pass_wall = median(p["ms"] for p in (clean or passes)) / 1000.0
    amps, stores = [], []
    for p in passes:
        written, _ = pass_writes(p["listings"])
        amps.append(written / max(1, p["input_bytes"]))
        stores.append(sum(merged(p["listings"][-1]).values()) / 1048576.0)
    metrics = {
        "setup_s": (setup, "s"),
        "pass_s": (pass_wall, "s"),
        "heap_live_mb": (median(p["heap_live_mb"] for p in passes), "MB"),
        "write_amp": (median(amps), "ratio"),
        "store_mb": (median(stores), "MB"),
        "ok_frac": ((len(ops) - len(failed)) / max(1, len(ops)), "ratio"),
    }
    warm_bad = bool(rec["warm"]["errors"]) or bool(rec["warm"]["pass_check"])
    details = {
        "op_p50_ms": median(lat), "op_tail_ms": tv, "tail_percentile": tp, "tail_beyond": tb, "samples": tn,
        "passes": len(passes), "failed_frac": len(failed) / max(1, len(ops)),
        "failures": [{"pass": o["pass"], "op": o["op"],
                      "class": o.get("error_class", "WrongOutput"),
                      "message": o.get("error", "pass check: " + str(
                          next((p["check"] for p in passes if p["pass"] == o["pass"]), "")))}
                     for o in failed],
        "warm_failures": [{"pass": 0, "op": o["op"], "class": o["error_class"],
                           "message": o["error"]} for o in rec["warm"]["errors"]],
        "warm_check": rec["warm"]["pass_check"],
        "inputs": rec["inputs"],
    }
    return metrics, len(ops), len(failed), not failed and not warm_bad, details


# ---------------------------------------------------------------- per layer

def attribute_jobs(trace):
    """job id → span id: the job group when it names a span, else the
    innermost span whose interval contains the job's start."""
    spans = {s["id"]: s for s in trace["spans"]}
    out = {}
    for j in trace["jobs"]:
        g = j["group"]
        if g.isdigit() and int(g) in spans:
            out[j["id"]] = int(g)
            continue
        best = None
        for s in trace["spans"]:
            if s["start"] <= j["start"] <= s["end"]:
                if best is None or s["start"] >= best["start"]:
                    best = s
        if best is not None:
            out[j["id"]] = best["id"]
    return out


def ancestors(spans, sid):
    while sid:
        yield sid
        sid = spans[sid]["parent"]


class Layers:
    """Per-span roll-ups of jobs, stages, tasks and planning time."""

    def __init__(self, trace, cores):
        self.cores = cores
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.jobs = {j["id"]: j for j in trace["jobs"]}
        owner = attribute_jobs(trace)
        self.jobs_under = {sid: [] for sid in self.spans}
        for jid, sid in owner.items():
            for a in ancestors(self.spans, sid):
                self.jobs_under[a].append(jid)
        self.stages_of = {}
        for st in trace["stages"]:
            self.stages_of.setdefault(st["job"], []).append(st)
        self.plans = trace["plans"]

    def stages(self, sid):
        return [st for j in self.jobs_under[sid] for st in self.stages_of.get(j, [])]

    def wall(self, sid):
        s = self.spans[sid]
        return s["end"] - s["start"]

    def job_intervals(self, sid):
        return [(self.jobs[j]["start"], self.jobs[j]["end"]) for j in self.jobs_under[sid]
                if self.jobs[j]["end"] is not None]  # a job seen starting but not ending

    def driver_gap(self, sid):
        s = self.spans[sid]
        return self.wall(sid) - union_length(self.job_intervals(sid), s["start"], s["end"])

    def task_ms(self, sid):
        return sum(st["run_ms"] for st in self.stages(sid))

    def plan_ms(self, sid):
        s = self.spans[sid]
        return sum(p["ms"] for p in self.plans if s["start"] <= p["start"] <= s["end"])

    def shuffle_mb(self, sid):
        return sum(st["shuffle_read_b"] for st in self.stages(sid)) / 1048576.0

    def of_kind(self, kind, name=None):
        return [sid for sid, s in self.spans.items()
                if s["kind"] == kind and (name is None or s["name"] == name)]


def stage_skew(stages):
    """The worst stage's (largest max task time) max ÷ median task time."""
    worst = max((st for st in stages if st["task_ms"]), key=lambda st: max(st["task_ms"]),
                default=None)
    if worst is None:
        return 0.0
    return max(worst["task_ms"]) / max(1.0, statistics.median(worst["task_ms"]))


def per_layer(name, w):
    """Per-layer metrics of one workload from the traced run record."""
    L = Layers(w["trace"], w["cores"])
    ops = L.of_kind("op")
    n = max(1, len(ops))
    stages = [st for o in ops for st in L.stages(o)]
    wall = sum(L.wall(o) for o in ops)
    m = {
        "spark.plan_ms": (sum(L.plan_ms(o) for o in ops) / n, "ms"),
        "spark.driver_gap_ms": (sum(L.driver_gap(o) for o in ops) / n, "ms"),
        "spark.jobs": (sum(len(L.jobs_under[o]) for o in ops) / n, "count"),
        "spark.stages": (len(stages) / n, "count"),
        "spark.tasks": (sum(st["tasks"] for st in stages) / n, "count"),
        "spark.task_ms": (sum(st["run_ms"] for st in stages) / n, "ms"),
        "spark.busy_ratio": (sum(st["run_ms"] for st in stages)
                             / max(1e-9, wall * L.cores), "ratio"),
        "spark.shuffle_mb": (sum(st["shuffle_read_b"] for st in stages) / 1048576.0 / n, "MB"),
        "spark.spill_mb": (sum(st["spill_b"] for st in stages) / 1048576.0 / n, "MB"),
        "spark.stage_skew": (stage_skew(stages), "ratio"),
        "jvm.gc_ms": (sum(L.spans[o]["attrs"].get("gc_ms", 0) for o in ops) / n, "ms"),
    }
    untraced = [p["ms"] for p in w["untraced"]["passes"]]
    traced = [p["ms"] for p in w["traced"]["passes"]]
    m["trace_overhead_s"] = ((median(traced) - median(untraced)) / 1000.0, "s")
    if name == "cdc_refresh":
        m.update(cdc_layers(L, w))
    else:
        for op in sorted({L.spans[o]["name"] for o in ops}):
            these = L.of_kind("op", op)
            k = max(1, len(these))
            m[f"{op}.ms"] = (median(L.wall(o) for o in these), "ms")
            m[f"{op}.jobs"] = (sum(len(L.jobs_under[o]) for o in these) / k, "count")
            m[f"{op}.driver_gap_ms"] = (sum(L.driver_gap(o) for o in these) / k, "ms")
            m[f"{op}.task_ms"] = (sum(L.task_ms(o) for o in these) / k, "ms")
            m[f"{op}.shuffle_mb"] = (sum(L.shuffle_mb(o) for o in these) / k, "MB")
    return {f"{name}.{k}": v for k, v in m.items()}


def cdc_layers(L, w):
    calls = {c: L.of_kind("call", c) for c in ("ingest", "medallion", "star_read",
                                               "snapshots_read")}
    k = {c: max(1, len(v)) for c, v in calls.items()}
    compact = []
    for sid in calls["medallion"]:
        sts = [st for st in L.stages(sid) if st["compact"]
               and st["submit"] is not None and st["complete"] is not None]
        if sts:
            compact.append(max(st["complete"] for st in sts) - min(st["submit"] for st in sts))
    writes, files = [], []
    for p in w["traced"]["passes"]:
        ls = p["listings"]
        for a, b in zip(ls, ls[1:]):
            wb, wf = pass_writes([a, b], prefix="state/gold/")
            writes.append(wb)
            files.append(wf)
    x = w["extras"]
    incs = x["increments"]
    holding = x["holding"] * len(incs)
    return {
        "ingest.ms": (median(L.wall(s) for s in calls["ingest"]), "ms"),
        "ingest.jobs": (sum(len(L.jobs_under[s]) for s in calls["ingest"]) / k["ingest"], "count"),
        "medallion.ms": (median(L.wall(s) for s in calls["medallion"]), "ms"),
        "medallion.jobs": (sum(len(L.jobs_under[s]) for s in calls["medallion"])
                           / k["medallion"], "count"),
        "medallion.compact_ms": (median(compact), "ms"),
        "star_read.ms": (median(L.wall(s) for s in calls["star_read"]), "ms"),
        "star_read.plan_ms": (median(L.spans[s]["attrs"].get("plan_ms", 0)
                                     for s in calls["star_read"]), "ms"),
        "snapshots.write_mb": (median(writes) / 1048576.0, "MB"),
        "snapshots.files_written": (median(files), "count"),
        "snapshots.compactions": (sum(i["compactions"] for i in incs), "count"),
        "snapshots.read_ms": (median(L.wall(s) for s in calls["snapshots_read"]), "ms"),
        "snapshots.bucket_rewrite_ratio": (sum(i["rewritten"] for i in incs)
                                           / max(1, holding), "ratio"),
        "pipeline.clean_yield": (sum(i["cleaned"] for i in incs)
                                 / max(1, sum(i["extracted"] for i in incs)), "ratio"),
    }


def op_busy(w):
    """Busy ratio and wall per op name from a traced workload record."""
    L = Layers(w["trace"], w["cores"])
    out = {}
    for op in sorted({L.spans[o]["name"] for o in L.of_kind("op")}):
        these = L.of_kind("op", op)
        wall = sum(L.wall(o) for o in these)
        out[op] = {"busy": sum(L.task_ms(o) for o in these) / max(1e-9, wall * L.cores),
                   "ms": wall / max(1, len(these))}
    return out


def call_breakdown(w):
    """Median wall, self time and jobs per call-span name (traced record)."""
    L = Layers(w["trace"], w["cores"])
    out = {}
    for name in sorted({s["name"] for s in L.spans.values() if s["kind"] == "call"}):
        these = L.of_kind("call", name)
        kids = lambda sid: [(c["start"], c["end"]) for c in L.spans.values() if c["parent"] == sid]
        out[name] = {"ms": median(L.wall(s) for s in these),
                     "self_ms": median(self_time((L.spans[s]["start"], L.spans[s]["end"]), kids(s))
                                       for s in these),
                     "jobs": sum(len(L.jobs_under[s]) for s in these) / max(1, len(these)),
                     "busy": sum(L.task_ms(s) for s in these)
                     / max(1e-9, sum(L.wall(s) for s in these) * L.cores)}
    return out
