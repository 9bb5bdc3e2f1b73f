"""Turn the harness's raw samples and spans into the benchmark's metrics."""

import math
import statistics

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_iqm_s": "s",
    "op_slow25_s": "s",
}

PER_LAYER = {
    "gen_s": "s",
    "failed_ops_frac": "1",
    "written_bytes_per_input_byte": "1",
    "trace.overhead_frac": "1",
    "trace.residual_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "plan.s": "s",
    "plan.exchanges": "count",
    "plan.reused_exchanges": "count",
    "plan.cached_scans": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_busy_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.slot_idle_frac": "1",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_bytes": "B",
    "exec.peak_task_mem_bytes": "B",
    "sources.scan_s": "s",
    "sources.rows_read": "count",
    "sources.bytes_read": "B",
    "sources.rows_read_per_row_out": "1",
    "operators.join.plan_build_s": "s",
    "operators.join.data_fetch_s": "s",
    "sinks.write_s": "s",
    "sinks.rows_written": "count",
    "sinks.bytes_written": "B",
    "operators.store.write_jobs": "count",
    "operators.store.files_written": "count",
    "operators.store.bytes_written": "B",
    "operators.dedup.cached_bytes": "B",
    "streaming.batch_s": "s",
    "streaming.rows_per_s": "1/s",
    "streaming.plan_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "B",
}

HARNESS_KINDS = ("pass", "op", "build", "plan", "exec", "batch")


def tail(values):
    """The highest percentile with at least ten samples above it:
    (value, percentile, samples). With fewer than eleven samples it is the
    maximum."""
    xs = sorted(values)
    k = max(0, len(xs) - 11)
    if len(xs) < 11:
        k = len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs)


def iqm(values):
    """Interquartile mean: the mean of the middle half of the samples."""
    xs = sorted(values)
    cut = len(xs) // 4
    return statistics.mean(xs[cut:len(xs) - cut])


def slow25(values):
    """Mean of the slowest quarter of the samples (at least one)."""
    xs = sorted(values)
    return statistics.mean(xs[-math.ceil(len(xs) / 4):])


def covered(interval, children):
    """Length of `interval` covered by the union of the child intervals."""
    lo, hi = interval
    cuts = sorted((max(lo, a), min(hi, b)) for a, b in children if min(hi, b) > max(lo, a))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cuts:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tree:
    """Span tree. Job spans carry no parent from the listener; each is
    hung under the innermost harness span that contains its start."""

    def __init__(self, spans):
        self.spans = {s["id"]: dict(s) for s in spans if s["end"] is not None}
        harness = sorted((s for s in self.spans.values() if s["kind"] in HARNESS_KINDS),
                         key=lambda s: (s["start"], -s["end"]))
        for s in self.spans.values():
            if s["kind"] == "job" and s["parent"] < 0:
                inner = [h for h in harness if h["start"] <= s["start"] <= h["end"]]
                if inner:
                    s["parent"] = min(inner, key=lambda h: h["end"] - h["start"])["id"]
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s)

    def self_time(self, s):
        kids = [(c["start"], c["end"]) for c in self.children.get(s["id"], [])]
        return (s["end"] - s["start"]) - covered((s["start"], s["end"]), kids)

    def descendants(self, s):
        out, todo = [], list(self.children.get(s["id"], []))
        while todo:
            c = todo.pop()
            out.append(c)
            todo += self.children.get(c["id"], [])
        return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(raw, input_bytes):
    """Per traced pass, then the median over traced passes."""
    tree = Tree(raw["spans"])
    passes = sorted((s for s in tree.spans.values() if s["kind"] == "pass"), key=lambda s: s["start"])
    traced = [p for p in raw["passes"] if p["tag"] == "traced"]
    per_pass = []
    for span, samples in zip(passes, traced):
        d = tree.descendants(span)
        kind = lambda k: [s for s in d if s["kind"] == k]  # noqa: E731
        ops = sorted(kind("op"), key=lambda s: s["start"])
        jobs, stages, batches = kind("job"), kind("stage"), kind("batch")
        st = lambda k: sum(s["attrs"].get(k, 0.0) for s in stages)  # noqa: E731
        op = lambda k: sum(s["attrs"].get(k, 0.0) for s in ops)  # noqa: E731
        top = lambda k: max([s["attrs"].get(k, 0.0) for s in ops] or [0.0])  # noqa: E731
        dur = lambda ss: sum(s["end"] - s["start"] for s in ss) / 1e3  # noqa: E731
        wall = (span["end"] - span["start"]) / 1e3
        build_ids = {s["id"] for s in kind("build")}
        rows = [max(0, x["rows"]) for x in samples["ops"]]
        rows_out = sum(rows)
        sink_rows = sum(r for s, r in zip(ops, rows) if "facade.total" in s["attrs"])
        store_jobs = {j["id"] for j in jobs for c in tree.children.get(j["id"], [])
                      if c["attrs"].get("output_bytes", 0) > 0}
        m = {
            "trace.residual_s": sum(tree.self_time(s) for s in ops) / 1e3,
            "queries.build_s": dur(kind("build")),
            "queries.build_jobs": sum(1 for j in jobs if j["parent"] in build_ids),
            "plan.s": dur(kind("plan")),
            "plan.exchanges": op("exchanges"),
            "plan.reused_exchanges": op("reused_exchanges"),
            "plan.cached_scans": op("cached_scans"),
            "exec.s": dur(kind("exec")),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": st("tasks"),
            "exec.task_busy_s": st("task_busy_s"),
            "exec.cpu_s": st("cpu_s"),
            "exec.gc_s": st("gc_s"),
            "exec.slot_idle_frac": max(0.0, 1.0 - st("task_busy_s") / (raw["cpus"] * wall)),
            "exec.failed_tasks": st("failed_tasks"),
            "exec.shuffle_write_bytes": st("shuffle_write_bytes"),
            "exec.shuffle_read_bytes": st("shuffle_read_bytes"),
            "exec.shuffle_fetch_wait_s": st("shuffle_fetch_wait_s"),
            "exec.spill_bytes": st("spill_bytes"),
            "exec.peak_task_mem_bytes": max([s["attrs"].get("peak_task_mem_bytes", 0.0)
                                             for s in stages] or [0.0]),
            "sources.scan_s": st("scan_s"),
            "sources.rows_read": st("rows_read"),
            "sources.bytes_read": st("bytes_read"),
            "sources.rows_read_per_row_out": st("rows_read") / rows_out if rows_out else 0.0,
            "operators.join.plan_build_s": op("facade.plan_build"),
            "operators.join.data_fetch_s": op("facade.data_fetch"),
            "sinks.write_s": op("facade.total"),
            "sinks.rows_written": sink_rows,
            "sinks.bytes_written": op("sink_bytes"),
            "operators.store.write_jobs": len(store_jobs) if span["attrs"].get("store_files") else 0,
            "operators.store.files_written": span["attrs"].get("store_files", 0.0),
            "operators.store.bytes_written": span["attrs"].get("store_bytes", 0.0),
            "operators.dedup.cached_bytes": top("cached_bytes"),
            "streaming.batch_s": _median([(b["end"] - b["start"]) / 1e3 for b in batches]),
            "streaming.rows_per_s": (op("stream.rows_in") / op("stream.batch_s")
                                     if op("stream.batch_s") else 0.0),
            "streaming.plan_s": op("stream.plan_s"),
            "streaming.wal_commit_s": op("stream.wal_commit_s"),
            "streaming.state_rows": top("stream.state_rows"),
            "streaming.state_bytes": top("stream.state_bytes"),
            "written_bytes_per_input_byte": span["attrs"].get("written_bytes", 0.0) / input_bytes,
        }
        per_pass.append(m)
    return {k: _median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}


def summarize(raw, trace, gen_s, input_bytes):
    plain = [p for p in raw["passes"] if p["tag"] == "plain"]
    # timed ops are all checked; an unchecked warm-up op counts only when it threw
    samples = [o for p in raw["passes"] for o in p["ops"] if p["tag"] != "warmup" or not o["ok"]]
    attempted, failed = len(samples), sum(1 for o in samples if not o["ok"])
    times = [o["s"] for p in plain for o in p["ops"]]
    # A pass has 4 to 13 ops of very different cost, so single order
    # statistics (median, p90) jump between ops from run to run; the
    # interquartile mean and the slow-quarter mean average over several.
    e2e = {
        "setup_s": statistics.median(raw["setup_s"]),
        "wall_s": statistics.median(p["wall_s"] for p in plain),
        "op_iqm_s": iqm(times),
        "op_slow25_s": slow25(times),
    }
    tail_v, tail_p, n = tail(times)
    notes = [f"{k} = {v:.4f} {END_TO_END[k]}" for k, v in e2e.items()]
    notes.append(f"untimed warm-up pass {raw['warmup_s']:.2f} s")
    notes.append(f"op samples = {n} in {len(plain)} passes; median {statistics.median(times):.4f} s, "
                 f"p{tail_p:.1f} (10 samples beyond it, or the max) {tail_v:.4f} s")
    notes.append(f"failed_ops_frac = {failed / attempted:.4f}  ({failed} of {attempted} ops)")
    notes += [f"FAILED {o['op']}: {o['err']}" for o in samples if not o["ok"]][:10]
    if trace:
        layers = layer_metrics(raw, input_bytes)
        traced_walls = [p["wall_s"] for p in raw["passes"] if p["tag"] == "traced"]
        # both sets of passes follow the untimed warm-up pass
        layers["trace.overhead_frac"] = statistics.median(traced_walls) / e2e["wall_s"] - 1.0
        layers["gen_s"] = gen_s
        layers["failed_ops_frac"] = failed / attempted
        notes += [f"{k} = {layers[k]:.6g} {PER_LAYER[k]}" for k in PER_LAYER]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    return {"result": {"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": metrics}, "notes": notes}
