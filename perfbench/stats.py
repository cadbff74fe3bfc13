"""Percentiles, span self time and the per-layer figures of a traced run."""
import math

# A percentile is reported only with this many samples beyond it.
MIN_BEYOND = 10


def percentile(xs, p):
    """Nearest-rank p-th percentile of xs: (value, samples, samples beyond)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0, 0
    k = min(n, max(1, math.ceil(p / 100.0 * n)))
    return s[k - 1], n, n - k


def supported(p, n):
    """True when n samples leave at least MIN_BEYOND beyond the p-th percentile."""
    return n - min(n, max(1, math.ceil(p / 100.0 * n))) >= MIN_BEYOND


def highest_supported(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile that n samples support, or None."""
    return next((p for p in candidates if supported(p, n)), None)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


OP_NAMES = ("query", "microbatch", "request")


def resolve_parents(spans):
    """Give every span a parent. Spans that only know their group (sink
    writes, jobs of a micro-batch) hang under the operation span of that
    group; spans that know neither (Catalyst phases) hang under the
    innermost operation span whose interval contains theirs."""
    by_id = {s["id"]: s for s in spans}
    op_by_group = {}
    for s in spans:
        if s["name"] in OP_NAMES:
            op_by_group.setdefault(s["group"], s["id"])
    ops = sorted((s for s in spans if s["name"] in OP_NAMES), key=lambda s: s["start"])
    by_group = {}
    for s in spans:
        by_group.setdefault(s["group"], []).append(s)

    def innermost(s, candidates):
        inside = [c for c in candidates if c is not s and c["start"] <= s["start"]
                  and s["end"] <= c["end"] and c["name"] not in ("job", "stage")]
        return min(inside, key=lambda c: c["end"] - c["start"])["id"] if inside else None

    for s in spans:
        if s["parent"] in by_id or s["name"] in OP_NAMES:
            continue
        pid = None
        if s["group"] in op_by_group:
            # innermost span of the same operation, e.g. the addBatch phase
            pid = innermost(s, by_group[s["group"]]) or op_by_group[s["group"]]
        elif not s["group"]:
            pid = innermost(s, ops)
        s["parent"] = pid if pid is not None else -1
    for s in spans:
        if s["name"] in OP_NAMES and s["parent"] not in by_id:
            s["parent"] = -1
    return spans


def children_index(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def self_times(spans):
    """{span id: duration minus the part its children cover}."""
    kids = children_index(spans)
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        [(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
        for s in spans}


def descendants(span, kids):
    out, todo = [], list(kids.get(span["id"], []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def self_time_table(spans):
    """Per span name: count, total ms and self ms."""
    st = self_times(spans)
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], [0, 0.0, 0.0])
        row[0] += 1
        row[1] += s["end"] - s["start"]
        row[2] += st[s["id"]]
    return table


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def exec_layers(ops, kids, cores):
    """`exec.*` per operation span (query execution or micro-batch)."""
    out = {k: 0.0 for k in ("exec.wall_ms", "exec.jobs", "exec.stages", "exec.tasks",
                            "exec.task_ms", "exec.busy_frac", "exec.driver_gap_ms",
                            "exec.straggler_ratio", "exec.single_task_stages",
                            "exec.shuffle_bytes", "exec.spill_bytes", "exec.input_bytes")}
    if not ops:
        return out
    per, ratios, wall_sum, task_sum = [], [], 0.0, 0.0
    for op in ops:
        desc = descendants(op, kids)
        stages = [d for d in desc if d["name"] == "stage"]
        wall = op["end"] - op["start"]
        task_ms = sum(s["attrs"].get("task_ms", 0.0) for s in stages)
        wall_sum += wall
        task_sum += task_ms
        for s in stages:
            n = s["attrs"].get("tasks", 0)
            if n >= 2 and s["attrs"]["task_ms"] > 0:
                ratios.append(s["attrs"]["max_task_ms"] / (s["attrs"]["task_ms"] / n))
        per.append({
            "exec.wall_ms": wall,
            "exec.jobs": sum(1 for d in desc if d["name"] == "job"),
            "exec.stages": len(stages),
            "exec.tasks": sum(s["attrs"].get("tasks", 0) for s in stages),
            "exec.task_ms": task_ms,
            "exec.driver_gap_ms": wall - union_length(
                [(s["start"], s["end"]) for s in stages], op["start"], op["end"]),
            "exec.single_task_stages": sum(1 for s in stages if s["attrs"].get("tasks") == 1),
            "exec.shuffle_bytes": sum(s["attrs"].get("shuffle_bytes", 0) for s in stages),
            "exec.spill_bytes": sum(s["attrs"].get("spill_bytes", 0) for s in stages),
            "exec.input_bytes": sum(s["attrs"].get("input_bytes", 0) for s in stages),
        })
    for k in per[0]:
        out[k] = _mean([p[k] for p in per])
    out["exec.busy_frac"] = task_sum / (wall_sum * cores) if wall_sum > 0 else 0.0
    out["exec.straggler_ratio"] = _mean(ratios)
    return out


def trace_layers(result):
    """Per-layer figures that come from the spans of a traced run."""
    spans = resolve_parents([dict(s) for s in result["spans"]])
    kids = children_index(spans)
    workload = result["workload"]
    out = {}
    if workload == "batch_mix":
        ops = [s for s in spans if s["name"] == "query" and not s["group"].endswith("#cold")]
    else:
        ops = [s for s in spans if s["name"] == "microbatch"]
    out.update(exec_layers(ops, kids, result["cores"]))

    def per_op(name, value=lambda s: s["end"] - s["start"]):
        return sum(value(d) for op in ops for d in descendants(op, kids)
                   if d["name"] == name) / len(ops) if ops else 0.0

    out["catalyst.analyze_ms"] = per_op("catalyst.analyze")
    out["catalyst.optimize_ms"] = per_op("catalyst.optimize")
    out["catalyst.physical_ms"] = per_op("catalyst.physical")
    out["queries.build_ms"] = per_op("queries.build")
    builds = [d for op in ops for d in kids.get(op["id"], []) if d["name"] == "queries.build"]
    out["queries.build_jobs"] = (sum(1 for b in builds for d in descendants(b, kids)
                                     if d["name"] == "job") / len(ops)) if ops else 0.0
    if workload.startswith("stream_"):
        out["sink.write_ms"] = per_op("sink.write")
    return out
