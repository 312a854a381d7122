"""Self-time arithmetic and per-layer figures from a traced run's spans.

A span is a dict with `id`, `name`, `layer`, `parent` (-1 for an
operation's root span), `op`, `start_ms`, `end_ms` and Spark listener
`counts`. A span's self time is its duration minus the part of its
interval that its children cover.
"""
import statistics

LAYERS = ["pipeline", "model", "quality", "semantic", "operators", "core"]
COUNTS = ["jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_mb",
          "shuffle_write_mb", "spill_mb", "gc_s"]


def covered_ms(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if min(e, end) > max(s, start))
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


def self_times_ms(spans):
    """Self time of each span by id, in ms."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered_ms(
            s["start_ms"], s["end_ms"], kids)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans):
    """Per-layer metrics of one traced run (medians over operations)."""
    self_ms = self_times_ms(spans)
    ops = {}
    for s in spans:
        ops.setdefault(s["op"], []).append(s)
    roots = [s for s in spans if s["parent"] == -1]

    def per_op(fn, only=None):
        vals = []
        for op, members in ops.items():
            if only is not None and not any(only(m) for m in members):
                continue
            vals.append(fn(members))
        return _median(vals)

    def span_s(name):
        return lambda ms: sum(s["end_ms"] - s["start_ms"] for s in ms
                              if s["name"] == name) / 1e3

    def has(name):
        return lambda m: m["name"] == name

    out = {}
    for layer in LAYERS:
        out[layer + ".self_s"] = per_op(lambda ms, l=layer: sum(
            self_ms[s["id"]] for s in ms if s["layer"] == l) / 1e3)
    for name in ["model.reviews_fact", "model.aux_dims", "model.games_dim",
                 "quality.gate", "semantic.register", "operators.curate",
                 "operators.cross_lsh", "operators.semantic_pairs",
                 "operators.standardize", "core.upsert", "core.compact"]:
        out[name + "_s"] = per_op(span_s(name), only=has(name))
    for name in ["semantic.compile", "semantic.yaml_parse", "semantic.execute"]:
        out[name + "_ms"] = per_op(span_s(name), only=has(name)) * 1e3
    out["model.input_mb"] = per_op(lambda ms: sum(
        s["counts"]["input_mb"] for s in ms if s["layer"] == "model"))
    out["quality.shuffle_mb"] = per_op(lambda ms: sum(
        s["counts"]["shuffle_write_mb"] for s in ms if s["name"] == "quality.gate"))
    for c in COUNTS:
        out["spark." + c + "_per_op"] = per_op(
            lambda ms, c=c: sum(s["counts"][c] for s in ms))
    durations = [r["end_ms"] - r["start_ms"] for r in roots]
    shares = [self_ms[r["id"]] / d for r, d in zip(roots, durations) if d > 0]
    out["trace.unaccounted_share"] = (
        sum(self_ms[r["id"]] for r in roots) / sum(durations) if durations else 0.0)
    out["trace.unaccounted_max_share"] = max(shares) if shares else 0.0
    out["trace.ops"] = float(len(roots))
    return out
