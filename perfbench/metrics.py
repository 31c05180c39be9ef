"""Metric arithmetic for the benchmark: percentiles, interval unions and
self times over the harness's span record, and the end-to-end and
per-layer metrics of one run. Pure functions over plain data, so the
unit tests exercise them without Spark."""
import statistics

from workloads import ARTIFACTS, LAYERS, SINK_MODELS

MB = 1048576.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). With fewer than eleven samples no
    such percentile exists and the maximum stands in, percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 11:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def spread(xs):
    """Distance between the first and third quartile, as a share of the
    median (statistics.quantiles' default method)."""
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return (q3 - q1) / m if m else 0.0


def union_len(intervals, lo=None, hi=None):
    """Length covered by the union of [start, end) intervals, clipped to
    [lo, hi) when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
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


class Record:
    """The harness's raw record, indexed: spans as a tree (times in
    microseconds), jobs and Catalyst phases as intervals, task metrics
    per issuing span."""

    def __init__(self, raw):
        self.raw = raw
        self.spans = {}
        self.children = {}
        for sid, parent, name, start, end in raw["spans"]:
            self.spans[sid] = (parent, name, start, end)
            self.children.setdefault(parent, []).append(sid)
        self.jobs = [(span, start, end) for _, span, start, end in raw["jobs"] if end >= start]
        self.phases = [(start, end) for _, start, end in raw["phases"]]
        self.tasks = {row[0]: row[1:] for row in raw["tasks"]}

    def name(self, sid):
        return self.spans[sid][1]

    def dur(self, sid):
        _, _, start, end = self.spans[sid]
        return (end - start) / 1e6

    def kids(self, sid, prefix=""):
        return [c for c in self.children.get(sid, []) if self.name(c).startswith(prefix)]

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, []))
        return out

    def passes(self):
        """Timed passes (pass.1 on) as span ids, in order."""
        ps = [s for s in self.kids(0, "pass.") if int(self.name(s).split(".")[1]) > 0]
        return sorted(ps, key=lambda s: int(self.name(s).split(".")[1]))

    def interval(self, sid):
        _, _, start, end = self.spans[sid]
        return start, end

    def busy(self, sid, what):
        """Seconds of `what` (jobs or Catalyst phases) inside the span."""
        start, end = self.interval(sid)
        ivs = [(a, b) for _, a, b in self.jobs] if what == "jobs" else self.phases
        return union_len(ivs, start, end) / 1e6

    def task_totals(self, sids):
        """Summed task metrics of jobs started under any of the spans:
        tasks, task ms, GC ms, shuffle write, shuffle read, spill and
        output bytes."""
        tot = [0] * 7
        for s in sids:
            for i, v in enumerate(self.tasks.get(s, [0] * 7)):
                tot[i] += v
        return tot

    def jobs_started(self, sids):
        ids = set(sids)
        return sum(1 for span, _, _ in self.jobs if span in ids)



def setup_seconds(rec):
    """JVM start to the first timed pass, with the repeated artifact
    set-ups counted once, at their median."""
    first = min(rec.interval(p)[0] for p in rec.passes())
    setups = [rec.dur(s) for s in rec.kids(0, "setup.")]
    total = (first - rec.raw["jvm_start_us"]) / 1e6
    return total - sum(setups) + median(setups)


def pass_wall(rec, p, kind):
    if kind == "medallion":
        return sum(rec.dur(c) for c in rec.kids(p)
                   if rec.name(c) in ("render", "build", "refresh", "dq"))
    return sum(rec.dur(c) for op in rec.kids(p, "op.")
               for c in rec.kids(op) if rec.name(c) in ("construct", "noop"))


def pass_count(rec, p, kind):
    if kind == "medallion":
        reps = {}
        for c in rec.kids(p, "count."):
            reps.setdefault(rec.name(c), []).append(rec.dur(c))
        return sum(median(xs) for xs in reps.values())
    return sum(rec.dur(c) for op in rec.kids(p, "op.") for c in rec.kids(op, "count"))


def op_samples(rec, kind):
    """Per-op full-output latencies over the timed passes: construction
    plus noop write per query op, one write per model in the medallion."""
    out = []
    for p in rec.passes():
        if kind == "medallion":
            out += [rec.dur(s) for s in rec.subtree(p) if rec.name(s).startswith("sink.")]
        else:
            for op in rec.kids(p, "op."):
                parts = [rec.dur(c) for c in rec.kids(op) if rec.name(c) in ("construct", "noop")]
                if len(parts) == 2:
                    out.append(sum(parts))
    return out


def end_to_end(rec, kind):
    """The end-to-end metrics of one untraced run, with the op sample
    count and tail percentile alongside."""
    ps = rec.passes()
    samples = op_samples(rec, kind)
    t, pct, n = tail(samples)
    return {
        "setup_s": setup_seconds(rec),
        "wall_s": median([pass_wall(rec, p, kind) for p in ps]),
        "count_s": median([pass_count(rec, p, kind) for p in ps]),
        "op_p50_s": median(samples),
        "op_tail_s": t,
        "peak_heap_mb": rec.raw["peak_heap_mb"],
    }, {"op_tail_percentile": pct, "op_samples": n, "passes": len(ps)}




def layer_of(name):
    """The layer a span's self time belongs to, by span name."""
    if name == "construct":
        return "construct"
    if name in ("noop", "count") or name.startswith("count."):
        return "action"
    if name in ("render", "build", "refresh"):
        return "pipeline"
    if name.startswith("sink."):
        return "sink"
    if name == "dq":
        return "quality"
    return "harness"


def layer_split(rec, root):
    """Self time per layer inside span `root`, summing to its duration:
    time under a Catalyst phase is `plan`, else under a Spark job is
    `spark`, else it belongs to the deepest open span's layer (the
    latest-started one where concurrent spans overlap)."""
    start, end = rec.interval(root)
    depth = {root: 0}
    spans = []
    for s in rec.subtree(root):
        if s != root:
            depth[s] = depth[rec.spans[s][0]] + 1
        a, b = rec.interval(s)
        spans.append((a, b, s))
    jobs = [(a, b) for _, a, b in rec.jobs if b > start and a < end]
    phases = [(a, b) for a, b in rec.phases if b > start and a < end]
    cuts = sorted({start, end} | {t for a, b, _ in spans for t in (a, b)}
                  | {t for a, b in jobs + phases for t in (a, b)})
    out = dict.fromkeys(LAYERS, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        if a < start or b > end or b <= a:
            continue
        if any(x <= a and y >= b for x, y in phases):
            layer = "plan"
        elif any(x <= a and y >= b for x, y in jobs):
            layer = "spark"
        else:
            open_ = [(depth[s], x, s) for x, y, s in spans if x <= a and y >= b]
            layer = layer_of(rec.name(max(open_)[2])) if open_ else "harness"
        out[layer] += (b - a) / 1e6
    return out


def per_layer(rec, kind, cores, sizes):
    """The per-layer metrics of one traced run: per-pass medians over its
    timed passes, and set-up artifacts over its set-ups. `traced_wall_s`
    is wall_s under tracing; against the untraced runs' wall_s it gives
    the tracing overhead."""
    per_pass = []
    for p in rec.passes():
        sub = rec.subtree(p)
        named = lambda n: [s for s in sub if rec.name(s) == n]  # noqa: E731
        construct = named("construct")
        t = rec.task_totals(sub)
        start, end = rec.interval(p)
        action_s = union_len([(a, b) for _, a, b in rec.jobs], start, end) / 1e6
        task_s = t[1] / 1e3
        wall = pass_wall(rec, p, kind)
        m = {
            "construct_s": sum(rec.dur(s) for s in construct),
            "construct_jobs": rec.jobs_started(construct),
            "construct_share": sum(rec.dur(s) for s in construct) / wall if wall else 0.0,
            "plan_s": union_len(rec.phases, start, end) / 1e6,
            "action_s": action_s,
            "jobs": rec.jobs_started(sub),
            "tasks": t[0],
            "task_s": task_s,
            "core_util": task_s / (cores * action_s) if action_s else 0.0,
            "idle_core_s": cores * action_s - task_s,
            "shuffle_write_mb": t[3] / MB,
            "shuffle_read_mb": t[4] / MB,
            "spill_mb": t[5] / MB,
            "gc_s": t[2] / 1e3,
            "traced_wall_s": wall,
        }
        for n in ("render", "build", "refresh", "dq"):
            m[f"{n}_s"] = sum(rec.dur(s) for s in named(n))
        sinks = [s for s in sub if rec.name(s).startswith("sink.")]
        m["sink.bytes_mb"] = rec.task_totals(
            [x for s in sinks for x in rec.subtree(s)])[6] / MB
        for model in SINK_MODELS:
            m[f"sink.{model}_s"] = sum(rec.dur(s) for s in sinks if rec.name(s) == f"sink.{model}")
        refresh = [x for s in named("refresh") for x in rec.subtree(s)]
        m["write_amp"] = (rec.task_totals(refresh)[6] / sizes["delta"]
                          if refresh and sizes.get("delta") else 0.0)
        dq = [x for s in named("dq") for x in rec.subtree(s)]
        m["dq_jobs"] = rec.jobs_started(dq)
        m["dq_task_s"] = rec.task_totals(dq)[1] / 1e3
        for layer, v in layer_split(rec, p).items():
            m[f"self.{layer}_s"] = v
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]} if per_pass else {}
    for kind_ in ARTIFACTS:
        builds = [rec.dur(s) for s in rec.spans if rec.name(s) == f"artifact.{kind_}.build"]
        hits = [rec.dur(s) for s in rec.spans if rec.name(s) == f"artifact.{kind_}.hit"]
        out[f"artifact.{kind_}.build_s"] = median(builds)
        out[f"artifact.{kind_}.hit_s"] = median(hits)
    pins = [row for row in rec.raw["pins"] if row[0] > 0]
    out["live_pins_after"] = max((row[2] for row in pins), default=0)
    out["jit_s"] = (max(row[4] for row in pins) - min(row[4] for row in pins)) / 1e3 if pins else 0.0
    out["pinned_mb_peak"] = max((row[3] for row in pins), default=0.0)
    out["stored_bytes_ratio"] = (sizes["warehouse"] / sizes["source"]
                                 if sizes.get("warehouse") else 0.0)
    return out


def op_table(rec, kind):
    """Per-op (or per medallion phase and model) split over the timed
    passes: name -> part -> list of seconds, parts being construct, plan,
    noop and count for query ops, and the phase or sink time otherwise."""
    table = {}
    for p in rec.passes():
        if kind == "medallion":
            for s in rec.subtree(p):
                n = rec.name(s)
                if n in ("render", "build", "refresh", "dq") or n.startswith(("sink.", "count.")):
                    row = table.setdefault(n, {})
                    row.setdefault("wall", []).append(rec.dur(s))
                    row.setdefault("plan", []).append(rec.busy(s, "phases"))
                    row.setdefault("spark", []).append(rec.busy(s, "jobs"))
            continue
        for op in rec.kids(p, "op."):
            row = table.setdefault(rec.name(op)[3:], {})
            for c in rec.kids(op):
                row.setdefault(rec.name(c), []).append(rec.dur(c))
            row.setdefault("plan", []).append(rec.busy(op, "phases"))
    return table
