"""Derives the benchmark's metrics from a run's result file alone.

End-to-end metrics come from the untraced run; per-layer metrics and the
self-time table from the traced run's spans. Both kinds are per timed pass
(one pass runs every operation of the workload once), so runs that fit a
different number of passes in --seconds stay comparable.

    python3 perfbench/layers.py TRACED.json [UNTRACED.json]

prints the per-layer table of a traced run: self time, share of operation
latency and counts per layer, per pass and per operation, and, given the
untraced run of the same workload, the tracing overhead.
"""
import json
import statistics
import sys

ETL = "etl_weekly"


def timed_ops(res):
    return [op for p in res["passes"] for op in p["ops"]]


def all_ops(res):
    return res["warm"]["ops"] + timed_ops(res)


def quantile(xs, q):
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(res):
    """Medians over the timed passes: a pass's latency and CPU summed over
    its operations, and each operation's latency, whose quantiles over the
    operations are p50 and p90. One disturbed pass moves none of them."""
    ops = timed_ops(res)
    per_op = {}
    for o in ops:
        per_op.setdefault(o["name"], []).append(o["latency_s"])
    lat = [statistics.median(v) for v in per_op.values()]
    setup = res["setup"]
    return {
        "setup_s": (setup["launch_to_session_s"] + setup["warm_s"], "s"),
        "wall_s": (statistics.median(sum(o["latency_s"] for o in p["ops"])
                                     for p in res["passes"]), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_p90_s": (quantile(lat, 0.9), "s"),
        "cpu_s": (statistics.median(sum(o["cpu_s"] for o in p["ops"])
                                    for p in res["passes"]), "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
        "failed_frac": (sum(1 for o in ops if o["error"] is not None) / len(ops), "ratio"),
    }


def failures(res):
    """(attempted, failed) over the timed mix, and every failure of the run."""
    ops = timed_ops(res)
    failed = [o for o in all_ops(res) if o["error"] is not None]
    return len(ops), sum(1 for o in ops if o["error"] is not None), failed


# ---- traced run ---------------------------------------------------------

class Trace:
    """The spans of the timed passes.

    Spark jobs started by a streaming query carry the operation's build span
    as parent; they are moved under the micro-batch span they ran in, and
    into the streaming layer with their stages.
    """

    def __init__(self, res):
        self.passes = len(res["passes"])
        timed = {o["id"] for o in timed_ops(res)}
        spans = [dict(s) for s in res["spans"] if s["op"] in timed and s["end"] is not None]
        by_id = {s["id"]: s for s in spans}
        batches = {}
        for s in spans:
            if s["layer"] == "streaming":
                batches.setdefault(s["parent"], []).append(s)
        for s in spans:
            if "jobs" not in s["counts"]:
                continue
            for b in batches.get(s["parent"], ()):
                if b["start"] <= s["start"] <= b["end"]:
                    s["parent"] = b["id"]
                    s["layer"] = "streaming"
                    break
        for s in spans:
            if "stages" in s["counts"] and s["parent"] in by_id:
                s["layer"] = by_id[s["parent"]]["layer"]
        self.spans = spans
        self.by_id = by_id

    def depth(self, s):
        d = 0
        while s["parent"] in self.by_id:
            s = self.by_id[s["parent"]]
            d += 1
        return d

    def self_time(self):
        """Seconds per layer, per pass. Each instant of an operation goes to
        the layer of the deepest span open at that instant, so the layers
        partition the operation's time even where Spark runs jobs
        concurrently."""
        per_op = {}
        for s in self.spans:
            if s["end"] > s["start"]:
                per_op.setdefault(s["op"], []).append((self.depth(s), s))
        out = {}
        for spans in per_op.values():
            cuts = sorted({t for _, s in spans for t in (s["start"], s["end"])})
            for lo, hi in zip(cuts, cuts[1:]):
                open_ = [(d, s) for d, s in spans if s["start"] <= lo and s["end"] >= hi]
                if open_:
                    layer = max(open_, key=lambda ds: ds[0])[1]["layer"]
                    out[layer] = out.get(layer, 0.0) + (hi - lo) / self.passes
        return out

    def phase(self, s):
        """The benchmark phase (build/plan/action/release) `s` ran in."""
        while True:
            parent = self.by_id.get(s["parent"])
            if parent is None:
                return None
            if parent["layer"] == "bench":
                return s["name"]
            s = parent

    def jobs(self, pred=lambda s: True):
        return [s for s in self.spans if "jobs" in s["counts"] and pred(s)]

    def under(self, phase, kind):
        return [s for s in self.spans if kind in s["counts"] and self.phase(s) == phase
                and self.op_name(s) != ETL]

    def op_name(self, s):
        return self.by_id.get(self.root(s), {}).get("name")

    def root(self, s):
        while s["parent"] in self.by_id:
            s = self.by_id[s["parent"]]
        return s["id"]

    def total(self, spans, key):
        return sum(s["counts"].get(key, 0.0) for s in spans) / self.passes

    def dur(self, spans):
        return sum(s["end"] - s["start"] for s in spans) / self.passes


def per_layer(res):
    """Every per-layer metric: name -> (value, unit)."""
    t = Trace(res)
    n = t.passes
    ops = timed_ops(res)
    cat = [o for o in ops if o["name"] != ETL]
    etl = [o for o in ops if o["name"] == ETL]
    setup = res["setup"]
    action_s = sum(o["action_s"] for o in cat) / n
    exec_stages = t.under("action", "stages")
    stream = [s for s in t.spans if s["layer"] == "streaming"]
    tables = t.jobs(lambda s: s["layer"] == "tables")
    phases = {p: [s for s in t.spans if s["layer"] == "plans" and s["name"] == p]
              for p in ("analysis", "optimization", "planning")}
    etl_files = etl_bytes = etl_rows = 0
    for o in etl:
        f = dict(kv.split("=") for kv in o["digest"].split()) if o["digest"] else {}
        etl_files += int(f.get("files", 0))
        etl_bytes += int(f.get("bytes", 0))
        etl_rows += max(o["rows"], 0)
    task_run = t.total(exec_stages, "task_run_s")
    m = {
        "sessions.start_s": (setup["session_start_s"], "s"),
        "sessions.warm_s": (setup["warm_s"], "s"),
        "tables.jobs": (t.total(tables, "jobs"), "count"),
        "tables.job_s": (t.dur(tables), "s"),
        "operators.build_s": (sum(o["build_s"] for o in cat) / n, "s"),
        "operators.build_jobs": (t.total(t.under("build", "jobs"), "jobs"), "count"),
        "plans.analysis_s": (t.dur(phases["analysis"]), "s"),
        "plans.optimization_s": (t.dur(phases["optimization"]), "s"),
        "plans.planning_s": (t.dur(phases["planning"]), "s"),
        "exec.action_s": (action_s, "s"),
        "exec.jobs": (t.total(t.under("action", "jobs"), "jobs"), "count"),
        "exec.stages": (t.total(exec_stages, "stages"), "count"),
        "exec.tasks": (t.total(exec_stages, "tasks"), "count"),
        "exec.task_run_s": (task_run, "s"),
        "exec.task_cpu_s": (t.total(exec_stages, "task_cpu_s"), "s"),
        "exec.task_gc_s": (t.total(exec_stages, "task_gc_s"), "s"),
        "exec.slot_busy": (task_run / (action_s * res["cores"]) if action_s else 0.0, "ratio"),
        "exec.shuffle_write_mb": (t.total(exec_stages, "shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": (t.total(exec_stages, "shuffle_read_mb"), "MB"),
        "exec.spill_mb": (t.total(exec_stages, "spill_mb"), "MB"),
        "exec.input_mb": (t.total(exec_stages, "input_mb"), "MB"),
        "persist.pinned_mb": (t.total([s for s in t.spans if s["name"] == "release"],
                                      "pinned_mb"), "MB"),
        "persist.release_s": (sum(o["release_s"] for o in ops) / n, "s"),
        "streaming.batches": (t.total(stream, "batches"), "count"),
        "streaming.trigger_s": (t.total(stream, "trigger_s"), "s"),
        "streaming.commit_s": (t.total(stream, "commit_s"), "s"),
        "streaming.input_rows": (t.total(stream, "input_rows"), "count"),
        "streaming.state_rows": (t.total(stream, "state_rows"), "count"),
        "streaming.state_mb": (t.total(stream, "state_mb"), "MB"),
        "streaming.state_commit_s": (t.total(stream, "state_commit_s"), "s"),
        "sources.pages_fetched": (sum(o["pages_fetched"] for o in ops) / n, "count"),
        "pipeline.build_s": (sum(o["build_s"] for o in etl) / n, "s"),
        "sinks.write_s": (sum(o["action_s"] for o in etl) / n, "s"),
        "sinks.files": (etl_files / n, "count"),
        "sinks.bytes_per_row": (etl_bytes / etl_rows if etl_rows else 0.0, "B/row"),
        "jvm.gc_s": (sum(p["gc_s"] for p in res["passes"]) / n, "s"),
        "bench.n_ops": (len(ops), "count"),
        "trace.wall_s": end_to_end(res)["wall_s"],
    }
    return m


def layer_table(res, untraced=None):
    """Self time and counts per layer, per pass and per operation."""
    t = Trace(res)
    n = t.passes
    n_ops = len(timed_ops(res)) / n
    lat = sum(o["latency_s"] for o in timed_ops(res)) / n
    rows = {layer: {"self": v, "jobs": 0, "stages": 0, "tasks": 0}
            for layer, v in t.self_time().items()}
    for s in t.spans:
        r = rows.setdefault(s["layer"], {"self": 0.0, "jobs": 0, "stages": 0, "tasks": 0})
        for k in ("jobs", "stages", "tasks"):
            r[k] += s["counts"].get(k, 0) / n
    out = [f"{res['workload']} seed={res['seed']} passes={n} ops/pass={n_ops:g} "
           f"latency/pass={lat:.3f}s",
           f"{'layer':<10} {'self s/pass':>11} {'s/op':>8} {'share':>6} "
           f"{'jobs/pass':>9} {'stages':>7} {'tasks':>7}"]
    for layer, r in sorted(rows.items(), key=lambda kv: -kv[1]["self"]):
        out.append(f"{layer:<10} {r['self']:11.3f} {r['self'] / n_ops:8.3f} "
                   f"{r['self'] / lat if lat else 0:6.1%} {r['jobs']:9.1f} "
                   f"{r['stages']:7.1f} {r['tasks']:7.1f}")
    per_op = {}
    for o in timed_ops(res):
        d = per_op.setdefault(o["name"], [0, 0.0, 0.0, 0.0, 0.0])
        d[0] += 1
        d[1] += o["build_s"]
        d[2] += o["plan_s"]
        d[3] += o["action_s"]
    for s in t.jobs(lambda s: s["layer"] == "tables"):
        per_op[t.op_name(s)][4] += 1
    out.append(f"{'operation':<24} {'build s':>8} {'plan s':>8} {'action s':>8} {'tables jobs':>11}")
    for name, (k, b, p, a, tj) in sorted(per_op.items()):
        out.append(f"{name:<24} {b / k:8.3f} {p / k:8.3f} {a / k:8.3f} {tj / k:11.1f}")
    if untraced is not None:
        traced, base = (end_to_end(r)["wall_s"][0] for r in (res, untraced))
        out.append(f"tracing overhead: median latency/pass {traced:.3f}s traced vs {base:.3f}s "
                   f"untraced ({(traced - base) / base:+.1%})")
    return "\n".join(out)


if __name__ == "__main__":
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    traced = json.load(open(sys.argv[1]))
    untraced = json.load(open(sys.argv[2])) if len(sys.argv) == 3 else None
    print(layer_table(traced, untraced))
    for k, (v, u) in per_layer(traced).items():
        print(f"{k:<26} {v:12.4f} {u}")
