"""The benchmark's own arithmetic: percentiles, open-loop latency, gaps and
the per-layer metrics derived from a traced run. Pure functions over the raw
measurements the harness writes; `tests/test_metrics.py` checks them."""
import math
import statistics

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)


def tail(values, groups=None, min_beyond=10):
    """The highest percentile of TAIL_LADDER that leaves at least
    `min_beyond` samples beyond it, as (percentile, value). With `groups`
    (one label per value, e.g. the micro-batch an event arrived in) the
    samples beyond must come from at least `min_beyond` distinct groups.
    Falls back to the median when no ladder step qualifies."""
    order = sorted(range(len(values)), key=lambda i: values[i])
    n = len(order)
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p / 100.0 * n))
        beyond = order[rank:]
        count = len(beyond) if groups is None else len({groups[i] for i in beyond})
        if count >= min_beyond:
            return p, values[order[rank - 1]]
    return 50.0, median(values)


def geomean(values):
    return math.exp(sum(math.log(max(v, 1e-9)) for v in values) / len(values))


def open_loop_latencies(t0, rate, batches):
    """Per-event latency of an open-loop phase.

    Event `i` of the phase was due at `t0 + i * 1000 / rate` ms, whatever
    time the generator actually handed it over. `batches` lists the
    delivered micro-batches in order as (receive time ms, events); the
    events of a batch are the next ones in schedule order, and each takes
    its batch's receive time. Returns (latencies ms, batch index per event)."""
    lat, grp = [], []
    i = 0
    for b, (recv, n) in enumerate(batches):
        for k in range(int(n)):
            lat.append(recv - (t0 + (i + k) * 1000.0 / rate))
            grp.append(b)
        i += int(n)
    return lat, grp


def generator_lag(t0, rate, chunks):
    """How late the generator ran: per chunk (add time, first index, events),
    the add time minus the due time of the chunk's last event."""
    return [add - (t0 + (first + n - 1) * 1000.0 / rate) for add, first, n in chunks]


def backlog_max(chunks, batches):
    """Most events ever handed over but not yet delivered, sampled at each
    hand-over."""
    best, added, done, j = 0, 0, 0, 0
    for add, _first, n in chunks:
        added += n
        while j < len(batches) and batches[j][0] <= add:
            done += batches[j][1]
            j += 1
        best = max(best, added - done)
    return best


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by `intervals` clipped to [lo, hi]."""
    xs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in xs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def gap(start, end, intervals):
    """Span time covered by no interval: the span's length minus the union
    of the intervals within it. Never negative, however the intervals
    overlap."""
    return (end - start) - union_length(intervals, start, end)


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    return gap(span["start"], span["end"], [(c["start"], c["end"]) for c in children])


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


KERNELS = {"k_minhash_sig": "graft_minhash_sig", "k_jaccard": "graft_jaccard",
           "k_overlap": "graft_overlap", "k_simhash16": "graft_simhash16",
           "k_dot": "graft_dot", "k_charhist_l1": "graft_charhist_l1"}

STREAM_LAYER = ("stream.batch_ms", "stream.add_batch_ms", "stream.plan_ms", "stream.commit_ms",
                "stream.state_rows", "stream.state_bytes", "stream.state_commit_ms",
                "stream.state_update_ms", "stream.batch_events", "stream.backlog_max",
                "gen.lag_ms")
EXEC_LAYER = ("exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_ms", "exec.cpu_ms",
              "exec.gc_ms", "exec.busy_frac", "exec.skew", "shuffle.write_bytes",
              "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.bytes", "scan.bytes",
              "scan.rows")
BATCH_LAYER = ("queries.build_ms", "queries.build_jobs", "plan.analysis_ms",
               "plan.optimization_ms", "plan.planning_ms", "plan.gap_ms", "cache.peak_rdds",
               "cache.peak_bytes", "cache.release_ms", "cache.residual_rdds", "cache.sweep_ms",
               "exec.count_bias_ms")
PER_LAYER = (("LocalSession.build_ms", "LocalSession.warmup_ms") + BATCH_LAYER + EXEC_LAYER
             + tuple(f"functions.{k}_ms" for k in KERNELS.values()) + STREAM_LAYER
             + ("trace.overhead_frac",))


class Trace:
    """Index over a traced run's spans, jobs, stages and query executions."""

    def __init__(self, t):
        self.spans = {s["id"]: s for s in t["spans"]}
        self.children = {}
        for s in t["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs_by_span = {}
        for j in t["jobs"]:
            if j["group"].startswith("pb-") and j["end"] >= 0:
                self.jobs_by_span.setdefault(int(j["group"][3:]), []).append(j)
        self.all_jobs = [j for j in t["jobs"] if j["end"] >= 0]
        self.stages = {int(s["id"]): s for s in t["stages"]}
        self.qe_by_span = {}
        for q in t["qe"]:
            self.qe_by_span.setdefault(q["span"], []).append(q)
        self.progress = t.get("progress", [])

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(c["id"] for c in self.children.get(s, []))
        return out

    def jobs_in(self, sids):
        return [j for s in sids for j in self.jobs_by_span.get(s, [])]

    def stages_of(self, jobs):
        seen, out = set(), []
        for j in jobs:
            for sid in j["stages"]:
                if sid in self.stages and sid not in seen:
                    seen.add(sid)
                    out.append(self.stages[sid])
        return out


def exec_layer(stages, jobs, wall_ms, cores):
    """Spark-runtime metrics over one unit of work (its jobs and stages)."""
    task_ms = sum(s["task_ms"] for s in stages)
    skews = []
    for s in stages:
        d = s["task_durations"]
        if len(d) >= 2 and statistics.median(d) > 0:
            skews.append(max(d) / statistics.median(d))
    return {
        "exec.jobs": len(jobs), "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages), "exec.task_ms": task_ms,
        "exec.cpu_ms": sum(s["cpu_ms"] for s in stages),
        "exec.gc_ms": sum(s["gc_ms"] for s in stages),
        "exec.busy_frac": task_ms / (wall_ms * cores) if wall_ms > 0 else 0.0,
        "exec.skew": max(skews) if skews else 1.0,
        "shuffle.write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "shuffle.read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "shuffle.fetch_wait_ms": sum(s["fetch_wait_ms"] for s in stages),
        "spill.bytes": sum(s["spill_bytes"] for s in stages),
        "scan.bytes": sum(s["scan_bytes"] for s in stages),
        "scan.rows": sum(s["scan_rows"] for s in stages),
    }


def batch_layers(raw):
    """Per-layer metrics of a traced batch run, per execution (mean), except
    `exec.skew` (median over executions)."""
    tr = Trace(raw["spans"])
    cores = raw["cores"]
    execs = raw["execs"]
    rows = []
    for s in tr.spans.values():
        if s["name"] != "item" or s["parent"] != -1:
            continue
        kids = {c["name"]: c for c in tr.children.get(s["id"], [])}
        sub = tr.subtree(s["id"])
        jobs = tr.jobs_in(sub)
        stages = tr.stages_of(jobs)
        wall = s["end"] - s["start"]
        r = exec_layer(stages, jobs, wall, cores)
        build = kids.get("queries.build")
        r["queries.build_ms"] = self_time(build, tr.children.get(build["id"], [])) if build else 0.0
        r["queries.build_jobs"] = len(tr.jobs_in(tr.subtree(build["id"]))) if build else 0
        qes = [q for sid in sub for q in tr.qe_by_span.get(sid, [])]
        for ph in ("analysis", "optimization", "planning"):
            r[f"plan.{ph}_ms"] = sum(q[f"{ph}_ms"] for q in qes)
        r["plan.gap_ms"] = gap(s["start"], s["end"], [(j["start"], j["end"]) for j in jobs])
        ex = kids.get("exec")
        r["exec.ms"] = ex["end"] - ex["start"] if ex else 0.0
        rel = kids.get("cache.release")
        r["cache.release_ms"] = rel["end"] - rel["start"] if rel else 0.0
        r["item"] = s["item"]
        rows.append(r)
    out = {k: mean(r[k] for r in rows) for k in rows[0] if k != "item"} if rows else {}
    out["exec.skew"] = median(r["exec.skew"] for r in rows)
    traced = [e for e in execs if e["mode"] == "traced"]
    untraced = [e for e in execs if e["mode"] == "untraced"]
    counted = [e for e in execs if e["mode"] == "count"]
    out["cache.peak_rdds"] = mean(e["peak_rdds"] for e in traced)
    out["cache.peak_bytes"] = mean(e["peak_bytes"] for e in traced)
    out["cache.residual_rdds"] = mean(e["residual_rdds"] for e in traced)
    out["cache.sweep_ms"] = mean(e["sweep_ms"] for e in traced)
    noop = {}
    for e in untraced:
        noop.setdefault(e["item"], []).append(e["end"] - e["start"])
    out["exec.count_bias_ms"] = mean(median(noop[e["item"]]) - (e["end"] - e["start"])
                                     for e in counted if e["item"] in noop)
    for item, kernel in KERNELS.items():
        out[f"functions.{kernel}_ms"] = mean(r["exec.ms"] for r in rows if r["item"] == item)
    out["trace.overhead_frac"] = (mean(e["end"] - e["start"] for e in traced)
                                  / mean(e["end"] - e["start"] for e in untraced) - 1.0)
    return out


def stream_layers(raw, maintainers):
    """Per-layer metrics of a traced stream run: medians over the traced
    micro-batches, state size summed over the maintainers' last batches, and
    Spark-runtime totals per micro-batch."""
    tr = Trace(raw["spans"])
    prog = tr.progress
    out = {
        "stream.batch_ms": median(p["trigger_ms"] for p in prog),
        "stream.add_batch_ms": median(p["add_batch_ms"] for p in prog),
        "stream.plan_ms": median(p["plan_ms"] for p in prog),
        "stream.commit_ms": median(p["commit_ms"] for p in prog),
        "stream.state_commit_ms": median(p["state_commit_ms"] for p in prog),
        "stream.state_update_ms": median(p["state_update_ms"] for p in prog),
        "stream.batch_events": median(p["rows"] for p in prog),
    }
    last = {}
    for p in prog:
        if p["batch"] >= last.get(p["query"], {"batch": -1})["batch"]:
            last[p["query"]] = p
    out["stream.state_rows"] = sum(p["state_rows"] for p in last.values())
    out["stream.state_bytes"] = sum(p["state_bytes"] for p in last.values())
    lags, backlog = [], 0
    for m in maintainers:
        o = raw[f"traced.{m}"]["open"]
        lags += generator_lag(o["t0"], o["rate"], o["chunks"])
        backlog = max(backlog, backlog_max(o["chunks"], o["batches"]))
    out["stream.backlog_max"] = backlog
    out["gen.lag_ms"] = max(lags) if lags else 0.0
    phases = [s for s in tr.spans.values() if s["name"] in ("stream.closed", "stream.open")]
    jobs = [j for j in tr.all_jobs
            if any(s["start"] <= j["start"] <= s["end"] for s in phases)]
    wall = sum(s["end"] - s["start"] for s in phases)
    per = exec_layer(tr.stages_of(jobs), jobs, wall, raw["cores"])
    n = max(1, len(prog))
    for k, v in per.items():
        out[k] = v if k in ("exec.busy_frac", "exec.skew") else v / n
    out["exec.ms"] = out["stream.batch_ms"]
    return out
