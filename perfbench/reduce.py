"""Reduce one raw run record (written by `graft.perfbench.Main`) to the
benchmark's metrics.

End-to-end metrics come from an untraced run (`--trace 0`): the Spark
work an operation costs (jobs and tasks, the cost model of this engine
at this scale, where job and commit floors rather than bytes set the
time), set-up time, space amplification and peak memory. Wall-clock
latencies, p50 and the highest percentile with ten samples beyond it,
are printed beside them with their sample counts but not gated: on the
shared VM that defined the benchmark, host CPU steal moved them by up to
2x between identical runs, which no bound within 25 % survives. Per-layer
metrics come from the traced run (`--trace 1`): spans around each call
into the program, joined with the benchmark's Spark listener events.

Definitions used throughout:

* percentiles are nearest-rank; a percentile is reported only when at
  least ten samples lie beyond it, so p95 needs 200 samples;
* in-job time of a span is the union of its jobs' intervals clipped to
  the span; driver-only time is the span's wall time minus that;
* self time of a span is its wall time minus the union of its children;
* an open-loop operation's latency runs from its due time, so a stall
  also delays the operations queued behind it;
* a thrown operation, a wrong answer and a failed check each count as
  one failed operation; checks count as attempted operations.
"""
import math
import statistics

WORKLOADS = ("lakehouse", "search")

# name, unit, better
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("write_jobs", "count", "lower"),
    ("write_tasks", "count", "lower"),
    ("refresh_jobs", "count", "lower"),
    ("refresh_tasks", "count", "lower"),
    ("read_jobs", "count", "lower"),
    ("read_tasks", "count", "lower"),
    ("space_amp", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]
KINDS = ("write", "refresh", "read", "keyword", "maintenance", "register")

PIPELINE_STAGES = ("silver", "ohlcv_1m", "ohlcv_1h", "daily_metrics",
                   "latest_trade", "price_latest", "quality_report",
                   "watermark")
QUERY_KINDS = ("latest", "candles_1m", "candles_1h", "daily", "health")

# name, unit, better
PER_LAYER = (
    [("GovernedStream.commitBatch.jobs", "count", "lower"),
     ("GovernedStream.commitBatch.driver_only_ms", "ms", "lower"),
     ("GovernedStream.commitBatch.files_added", "count", "lower")]
    + [(f"GovernedPipeline.{c}.{m}", u, "lower")
       for c in ("refreshFromBronze", "runFull")
       for m, u in (("jobs", "count"), ("tasks", "count"),
                    ("in_job_ms", "ms"), ("driver_only_ms", "ms"))]
    + [(f"GovernedPipeline.stage_ms.{s}", "ms", "lower") for s in PIPELINE_STAGES]
    + [("GovernedPipeline.unstaged_ms", "ms", "lower"),
       ("GovernedPipeline.unstaged_jobs", "count", "lower"),
       ("GovernedPipeline.retries", "count", "lower"),
       ("Catalog.files_per_commit", "count", "lower"),
       ("Catalog.meta_files_per_commit", "count", "lower"),
       ("Catalog.bytes_per_commit", "bytes", "lower"),
       ("Catalog.files_on_disk", "count", "lower"),
       ("Catalog.live_bytes", "bytes", "lower"),
       ("Catalog.compactTable.ms", "ms", "lower"),
       ("Catalog.expireCommits.ms", "ms", "lower"),
       ("SnapshotTable.sweepOrphans.ms", "ms", "lower"),
       ("maintenance.bytes_rewritten", "bytes", "lower"),
       ("maintenance.files_removed", "count", "higher"),
       ("spark.input_bytes", "bytes", "lower"),
       ("spark.shuffle_bytes", "bytes", "lower"),
       ("spark.spill_bytes", "bytes", "lower"),
       ("spark.core_busy_share", "share", "higher"),
       ("spark.driver_only_share", "share", "lower"),
       ("spark.task_skew", "ratio", "lower"),
       ("Serving.registerCatalog.ms", "ms", "lower")]
    + [(f"query.{k}.p50_ms", "ms", "lower") for k in QUERY_KINDS]
    + [("read.plan_ms", "ms", "lower"),
       ("read.exec_ms", "ms", "lower"),
       ("read.jobs_per_query", "count", "lower"),
       ("read.files_per_query", "count", "lower"),
       ("read.bytes_per_query", "bytes", "lower"),
       ("read.rows_scanned_per_row_returned", "ratio", "lower"),
       ("load.queue_wait_ms", "ms", "lower"),
       ("load.generator_late_ms", "ms", "lower"),
       ("IncrementalIvf.appendBatch.ms", "ms", "lower"),
       ("IncrementalIvf.appendBatch.jobs", "count", "lower"),
       ("IncrementalIvf.appendBatch.shuffle_bytes", "bytes", "lower"),
       ("Retrieval.indexCorpusDelta.ms", "ms", "lower"),
       ("Retrieval.indexCorpusDelta.jobs", "count", "lower"),
       ("Retrieval.indexCorpusDelta.driver_only_ms", "ms", "lower"),
       ("IncrementalIvf.search.ms", "ms", "lower"),
       ("IncrementalIvf.search.jobs", "count", "lower"),
       ("IncrementalIvf.search.rows_scored_per_result", "ratio", "lower"),
       ("IncrementalIvf.search.recall_at_10", "ratio", "higher"),
       ("Retrieval.bm25SearchStoredBatch.ms", "ms", "lower"),
       ("Retrieval.bm25SearchStoredBatch.jobs", "count", "lower"),
       ("trace.overhead", "ratio", "lower"),
       ("trace.harness_self_ms", "ms", "lower")]
)



# ── statistics ──────────────────────────────────────────────────────────

def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n, ladder=(99, 95, 90, 75)):
    """The highest percentile with at least ten samples beyond it, or None
    (so p95 is refused below 200 samples, p90 below 100)."""
    for p in ladder:
        if beyond(n, p) >= 10:
            return p
    return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by intervals (start, end), clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b is not None and min(b, hi) > max(a, lo))
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


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def latency(op):
    """Open-loop operations run from their due time, closed-loop ones from
    their start."""
    return op["end"] - (op["due"] if _open_loop(op) else op["start"])


def _open_loop(op):
    due = op.get("due")
    return due is not None and not math.isnan(due)


def queue_wait(op):
    """Time an open-loop operation waited for a worker after it was due."""
    return op["start"] - op["due"] if _open_loop(op) else 0.0


def generator_late(op):
    """How late the load generator handed an open-loop operation over."""
    return op["dispatch"] - op["due"] if _open_loop(op) else math.nan


def op_ok(op):
    return op.get("error") is None and not op.get("wrong")


def failures(record):
    """(attempted, failed): every operation and every output check."""
    ops, checks = record["ops"], record["checks"]
    failed = sum(1 for o in ops if not op_ok(o)) + \
        sum(1 for c in checks if not c["ok"])
    return len(ops) + len(checks), failed


# ── traces ──────────────────────────────────────────────────────────────

class Trace:
    """Spans and listener events of one traced run, indexed."""

    def __init__(self, record):
        self.spans = {s["id"]: s for s in record["spans"]}
        self.children = {}
        for s in record["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = record["jobs"]
        self.jobs_of = {}
        for j in self.jobs:
            self.jobs_of.setdefault(j["span"], []).append(j)
        self.stages = {st["id"]: st for st in record["stages"]}
        self.tasks = {}
        for stage, run_ms in record["tasks"]:
            self.tasks.setdefault(stage, []).append(run_ms)

    def named(self, name):
        return [s for s in self.spans.values() if s["name"] == name]

    def roots(self):
        return self.children.get(0, [])

    def subtree(self, span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children.get(s["id"], [])
        return out

    def span_jobs(self, span):
        return [j for s in self.subtree(span) for j in self.jobs_of.get(s["id"], [])]

    def in_job_ms(self, span):
        return union_length([(j["start"], j["end"]) for j in self.span_jobs(span)],
                            span["start"], span["end"])

    def wall(self, span):
        return span["end"] - span["start"]

    def driver_only_ms(self, span):
        return self.wall(span) - self.in_job_ms(span)

    def span_stages(self, span):
        return [self.stages[i] for j in self.span_jobs(span)
                for i in j["stages"] if i in self.stages]

    def stage_sum(self, span, key):
        return sum(st[key] for st in self.span_stages(span))

    def skew(self, span):
        """max ÷ median task time in the span's longest stage."""
        stages = [st for st in self.span_stages(span) if self.tasks.get(st["id"])]
        if not stages:
            return None
        longest = max(stages, key=lambda st: st["run_ms"])
        ts = self.tasks[longest["id"]]
        m = statistics.median(ts)
        return max(ts) / m if m > 0 else None


def per_call(trace, name, fn):
    vals = [fn(s) for s in trace.named(name)]
    return median([v for v in vals if v is not None])


def sample(record, name, fn=median):
    xs = record["samples"].get(name, [])
    return fn(xs) if xs else 0.0


def per_layer(record):
    t = Trace(record)
    m = {}
    ops = record["ops"]

    def span_metrics(call, pairs):
        for metric, fn in pairs:
            m[f"{call}.{metric}"] = per_call(t, call, fn)

    jobs = lambda s: len(t.span_jobs(s))  # noqa: E731
    span_metrics("GovernedStream.commitBatch",
                 [("jobs", jobs), ("driver_only_ms", t.driver_only_ms)])
    m["GovernedStream.commitBatch.files_added"] = sample(record, "write.files_added")
    for call in ("GovernedPipeline.refreshFromBronze", "GovernedPipeline.runFull"):
        span_metrics(call, [("jobs", jobs),
                            ("tasks", lambda s: t.stage_sum(s, "tasks")),
                            ("in_job_ms", t.in_job_ms),
                            ("driver_only_ms", t.driver_only_ms)])
    for st in PIPELINE_STAGES:
        m[f"GovernedPipeline.stage_ms.{st}"] = sample(record, f"stage_ms.{st}")
    refreshes = t.named("GovernedPipeline.refreshFromBronze")
    staged = record["samples"].get("refresh.staged_ms", [])
    m["GovernedPipeline.unstaged_ms"] = median(
        [t.wall(s) - x for s, x in zip(refreshes, staged)])
    m["GovernedPipeline.unstaged_jobs"] = median(
        [sum(1 for j in t.span_jobs(s) if j["desc"] not in PIPELINE_STAGES)
         for s in refreshes])
    m["GovernedPipeline.retries"] = sample(record, "stage_retries", sum)

    for name in ("files_per_commit", "meta_files_per_commit", "bytes_per_commit"):
        m[f"Catalog.{name}"] = sample(record, f"Catalog.{name}")
    m["Catalog.files_on_disk"] = record["values"].get("catalog_files", 0)
    m["Catalog.live_bytes"] = record["values"].get("live_bytes", 0)
    for call in ("Catalog.compactTable", "Catalog.expireCommits",
                 "SnapshotTable.sweepOrphans"):
        m[f"{call}.ms"] = per_call(t, call, t.wall)
    m["maintenance.bytes_rewritten"] = per_call(
        t, "Catalog.compactTable", lambda s: t.stage_sum(s, "output_bytes"))
    m["maintenance.files_removed"] = sample(record, "maintenance.files_removed")

    roots = [s for s in t.roots() if s["name"] != "setup"]
    n = max(len(roots), 1)
    for key in ("input_bytes", "shuffle_bytes", "spill_bytes"):
        m[f"spark.{key}"] = sum(t.stage_sum(s, key) for s in roots) / n
    wall = sum(t.wall(s) for s in roots)
    busy = sum(t.stage_sum(s, "run_ms") for s in roots)
    m["spark.core_busy_share"] = busy / (wall * record["nproc"]) if wall else 0.0
    m["spark.driver_only_share"] = \
        sum(t.driver_only_ms(s) for s in roots) / wall if wall else 0.0
    m["spark.task_skew"] = median([x for x in (t.skew(s) for s in roots)
                                   if x is not None])

    m["Serving.registerCatalog.ms"] = per_call(t, "Serving.registerCatalog", t.wall)
    for k in QUERY_KINDS:
        m[f"query.{k}.p50_ms"] = median(
            [latency(o) for o in ops if o["kind"] == "read" and o["label"] == k])
    m["read.plan_ms"] = per_call(t, "read.plan", t.wall)
    m["read.exec_ms"] = per_call(t, "read.exec", t.wall)
    m["read.jobs_per_query"] = median(
        [len(t.span_jobs(s)) for s in t.roots() if s["name"] == "read"
         and t.named("read.exec")]) if t.named("read.exec") else 0.0
    for name in ("files_per_query", "bytes_per_query",
                 "rows_scanned_per_row_returned"):
        m[f"read.{name}"] = sample(record, f"read.{name}")
    open_ops = [o for o in ops if _open_loop(o)]
    m["load.queue_wait_ms"] = median([queue_wait(o) for o in open_ops])
    m["load.generator_late_ms"] = median([generator_late(o) for o in open_ops])

    span_metrics("IncrementalIvf.appendBatch",
                 [("ms", t.wall), ("jobs", jobs),
                  ("shuffle_bytes", lambda s: t.stage_sum(s, "shuffle_bytes"))])
    span_metrics("Retrieval.indexCorpusDelta",
                 [("ms", t.wall), ("jobs", jobs), ("driver_only_ms", t.driver_only_ms)])
    span_metrics("IncrementalIvf.search", [("ms", t.wall), ("jobs", jobs)])
    for name in ("rows_scored_per_result", "recall_at_10"):
        m[f"IncrementalIvf.search.{name}"] = sample(record, f"IncrementalIvf.search.{name}")
    span_metrics("Retrieval.bm25SearchStoredBatch", [("ms", t.wall), ("jobs", jobs)])

    # reads alternate traced and untraced; the first runs on a cold JIT,
    # so it is left out. Query kinds differ in cost, so the ratio is taken
    # per kind (label) and the median over kinds reported.
    warm = [o for o in ops if o["kind"] == "read"][1:]
    ratios = []
    for label in sorted({o["label"] for o in warm}):
        traced = [latency(o) for o in warm if o["label"] == label and o["traced"]]
        plain = [latency(o) for o in warm if o["label"] == label and not o["traced"]]
        if traced and plain:
            ratios.append(median(traced) / median(plain))
    m["trace.overhead"] = median(ratios)
    m["trace.harness_self_ms"] = median(
        [self_time(s, t.children.get(s["id"], [])) for s in roots])
    return m


def end_to_end(record):
    ok = [o for o in record["ops"] if op_ok(o)]

    def mean(kind, key):
        xs = [o[key] for o in ok if o["kind"] == kind]
        return sum(xs) / len(xs) if xs else 0.0

    setup = record["setup"]
    m = {"setup_s": setup["session_s"] + setup["setup_s"]}
    for kind in ("write", "refresh", "read"):
        m[f"{kind}_jobs"] = mean(kind, "jobs")
        m[f"{kind}_tasks"] = mean(kind, "tasks")
    m["space_amp"] = record["values"]["space_amp"]
    m["peak_rss_mb"] = record["peak_rss_kb"] / 1024.0
    return m


def counts(record):
    """Sample count behind each end-to-end metric."""
    ok = [o for o in record["ops"] if op_ok(o)]
    n = {k: sum(1 for o in ok if o["kind"] == k) for k in KINDS}
    out = {"setup_s": 1, "space_amp": 1, "peak_rss_mb": 1}
    for kind in ("write", "refresh", "read"):
        out[f"{kind}_jobs"] = out[f"{kind}_tasks"] = n[kind]
    return out


def latencies(record):
    """Wall-clock latency per operation kind: (n, p50, tail p, tail value)."""
    ok = [o for o in record["ops"] if op_ok(o)]
    out = {}
    for kind in KINDS:
        xs = [latency(o) for o in ok if o["kind"] == kind]
        if xs:
            p = tail_percentile(len(xs))
            out[kind] = (len(xs), median(xs), p,
                         percentile(xs, p) if p is not None else None)
    return out


def reduce(record):
    attempted, failed = failures(record)
    traced = bool(record["trace"])
    if traced:
        values = per_layer(record)
        metrics = {k: (values[k], u, b) for k, u, b in PER_LAYER}
    else:
        values = end_to_end(record)
        metrics = {k: (values[k], u, b) for k, u, b in END_TO_END}
    return {"record": record, "metrics": metrics, "attempted": attempted,
            "failed": failed, "counts": {} if traced else counts(record),
            "latencies": latencies(record)}


def contract_line(result):
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in result["metrics"].items()},
    }


def print_table(result, out):
    r = result["record"]
    out.write(f"workload {r['workload']}  seed {r['seed']}  trace {int(r['trace'])}"
              f"  nproc {r['nproc']}  seconds {r['seconds']}\n")
    for k, (v, u, better) in result["metrics"].items():
        n = result["counts"].get(k)
        extra = f"  n={n}" if n is not None else ""
        out.write(f"  {k:48s} {v:14.4f} {u:6s} better={better}{extra}\n")
    out.write("  wall-clock latency, not gated:\n")
    for kind, (n, p50, p, tail) in result["latencies"].items():
        t = f"p{p} {tail:.1f} ms" if p is not None else "no tail percentile (n < 40)"
        out.write(f"    {kind}: p50 {p50:.1f} ms, {t} (n={n})\n")
    out.write(f"  host CPU steal after set-up: "
              f"{r['values'].get('steal_share', 0.0):.1%}\n")
    for c in r["checks"]:
        out.write(f"  check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {c['detail']}\n")
    sizes = ", ".join(f"{k}={v}" for k, v in r["values"].items())
    out.write(f"  inputs and sizes: {sizes}\n")
    out.write(f"  attempted {result['attempted']}  failed {result['failed']}\n")
