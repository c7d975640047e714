"""Reduce the JVM driver's raw record into the benchmark's metrics.

End-to-end metrics come from operation times alone. Per-layer metrics come
from the traced run's spans (name, start, end, parent, request id) and the
Spark jobs attributed to them; every per-layer figure is per operation of the
measured window (a request, a CDC cycle or a corpus pass) unless its name
says otherwise.
"""

import math
import statistics

OPERATORS = ["exact", "quality", "minhash_lsh", "simhash", "ngram_jaccard", "pq_topk", "cluster_topics"]
STREAMING_PHASES = {
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}
MB = 1024.0 * 1024.0


# ----------------------------------------------------------------- helpers

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(kids)
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------- end to end

def _throughput(workload, ok_ops):
    """Search: requests per second of request time. CDC and corpus: the
    median over operations of items per second, so one slow cycle or pass
    among few does not carry the figure."""
    if workload == "search_dashboard":
        busy = sum(o["end"] - o["start"] for o in ok_ops)
        return len(ok_ops) / (busy / 1000.0) if busy > 0 else 0.0
    if workload == "cdc_ingest":
        # The ingest path: landing the file until runStream's query ends.
        rates = [o["envelopes"] / ((o["ingest_end"] - o["start"]) / 1000.0) for o in ok_ops]
    else:
        rates = [o["docs"] / ((o["end"] - o["start"]) / 1000.0) for o in ok_ops]
    return _median(rates)


def wall_note(workload, raw):
    """The window's wall-clock figures and the sample count behind them."""
    throughput, p50 = wall(workload, raw)
    return (f"wall: throughput {throughput:.4g}/s, latency p50 {p50:.1f} ms "
            f"over {len(raw['ops'])} operations in the window")


def jvm_cpu_ms(raw, group):
    """CPU time of the JVM's collector ("gc") or JIT-compiler ("jit")
    threads in the measured window, per operation, in ms."""
    return raw["window_cpu_ns"][group] / 1e6 / max(1, len(raw["ops"]))


def cpu_ms_per_op(raw):
    """Typical CPU time of an operation, in ms, less collector and JIT
    threads: the median over the window's operations of each kind (a search
    template; the one kind of a CDC cycle or a corpus pass), averaged over
    the kinds. A failed operation counts as infinitely expensive; when that
    carries a median, the figure is the whole window's CPU time."""
    kinds = {}
    for o in raw["ops"]:
        kinds.setdefault(o.get("template", ""), []).append(o["cpu_ns"] / 1e6 if o["ok"] else math.inf)
    value = statistics.fmean(_median(v) for v in kinds.values()) if kinds else math.inf
    if math.isinf(value):
        c = raw["window_cpu_ns"]
        value = (c["process"] - c["gc"] - c["jit"]) / 1e6
    return value


def wall(workload, raw):
    """Throughput and median latency of the window's wall-clock times."""
    ops = raw["ops"]
    ok = [o for o in ops if o["ok"]]
    # A failed operation misses every latency limit.
    lat = [o["end"] - o["start"] if o["ok"] else math.inf for o in ops]
    p50 = _median(lat)
    if math.isinf(p50):
        p50 = raw["window"][1] - raw["window"][0]
    return _throughput(workload, ok), p50


def end_to_end(workload, raw):
    return {
        "setup_s": (_median(raw["setup_s"]), "s"),
        "cpu_ms_per_op": (cpu_ms_per_op(raw), "ms"),
        # Retained heap: the larger reading of the full collections forced
        # just before and just after the window. The window's own
        # collections see its working set but land at points of the old
        # generation's fill that differ from run to run; their peak is the
        # per-layer jvm.heap_peak_after_gc_mb.
        "heap_after_gc_mb": (max(raw["heap_after_gc_mb"]), "MB"),
    }


# --------------------------------------------------------------- per layer

class Trace:
    """Spans and jobs of the measured window. A job is attributed to the span
    whose local property it carried or, when that span was not open at the
    job's start (a thread that inherited the property, such as a streaming
    query's), to its nearest ancestor that was. A job with no open span on
    that chain, or with no span at all, is unattributed."""

    def __init__(self, raw):
        w0, w1 = raw["window"]
        self.spans = [s for s in raw["spans"] if s["start"] >= w0 and s["end"] <= w1 + 1]
        self.by_id = {s["id"]: s for s in self.spans}
        self.self_ms = self_times(self.spans)
        self.jobs_of = {}
        self.unattributed = 0
        for j in raw["jobs"]:
            if not (w0 <= j["start"] <= w1):
                continue
            s = self.by_id.get(j["span"])
            while s is not None and not (s["start"] - 1 <= j["start"] <= s["end"] + 1):
                s = self.by_id.get(s["parent"])
            if s is None:
                self.unattributed += 1
            else:
                self.jobs_of.setdefault(s["id"], []).append(j)

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span):
        """Ids of `span` and all its descendants."""
        ids, frontier = {span["id"]}, [span["id"]]
        while frontier:
            kids = [s["id"] for s in self.spans if s["parent"] in frontier]
            ids.update(kids)
            frontier = kids
        return ids

    def jobs_under(self, span):
        return [j for i in self.subtree(span) for j in self.jobs_of.get(i, [])]

    def driver_gap(self, span):
        """Span wall time not covered by any of its jobs."""
        jobs = self.jobs_under(span)
        covered = union_length((max(j["start"], span["start"]), min(j["end"], span["end"])) for j in jobs)
        return (span["end"] - span["start"]) - covered

    def self_total(self, name):
        return sum(self.self_ms[s["id"]] for s in self.named(name))

    def jobs_total(self, name, field=None):
        jobs = [j for s in self.named(name) for j in self.jobs_of.get(s["id"], [])]
        return sum(j[field] for j in jobs) if field else len(jobs)


def per_layer(workload, raw):
    t = Trace(raw)
    ops = raw["ops"]
    n = max(1, len(ops))
    ok = [o for o in ops if o["ok"]]
    all_jobs = [j for js in t.jobs_of.values() for j in js]
    roots = t.named("request") + t.named("cycle") + t.named("pass")
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    put("ops.samples", len(ops), "count")
    put("tables.read_ms", t.self_total("tables.read") / n, "ms")
    put("tables.read_jobs", t.jobs_total("tables.read") / n, "count")
    put("search.compile_ms", t.self_total("search.compile") / n, "ms")
    put("search.compile_jobs", t.jobs_total("search.compile") / n, "count")
    put("search.plan_ms", sum(o.get("plan_ms", 0) for o in ops) / n, "ms")
    put("search.exec_ms", t.self_total("search.exec") / n, "ms")
    requests = t.named("request")
    put("search.driver_gap_ms", sum(t.driver_gap(s) for s in requests) / n, "ms")
    hits = sum(o.get("rows", 0) for o in ok)
    scanned = sum(j["records_read"] for s in requests for j in t.jobs_under(s))
    put("search.rows_scanned_per_hit", scanned / hits if hits else 0.0, "ratio")
    put("spark.jobs_per_request", sum(len(t.jobs_under(s)) for s in roots) / n, "count")
    put("spark.tasks_per_request", sum(j["tasks"] for s in roots for j in t.jobs_under(s)) / n, "count")
    put("spark.codegen_compile_ms", raw["codegen_ns"] / 1e6 / n, "ms")
    put("spark.codegen_classes", raw["codegen_classes"] / n, "count")

    cycles = [o for o in ops if "durations_ms" in o]
    c = max(1, len(cycles))
    put("streaming.start_ms", t.self_total("streaming.start") / n, "ms")
    for key, phase in STREAMING_PHASES.items():
        put(f"streaming.{key}", sum(o["durations_ms"].get(phase, 0) for o in cycles) / c, "ms")
    put("streaming.input_rows", sum(o["input_rows"] for o in cycles) / c, "count")
    last = cycles[-1] if cycles else {}
    put("streaming.state_rows", last.get("state_rows", 0), "count")
    put("streaming.state_mem_mb", last.get("state_mem_bytes", 0) / MB, "MB")
    put("sinks.readback_ms", t.self_total("sinks.readback") / n, "ms")
    put("sinks.readback_jobs", t.jobs_total("sinks.readback") / n, "count")
    put("sinks.readback_tasks", t.jobs_total("sinks.readback", "tasks") / n, "count")
    put("sinks.docs_written", sum(o.get("sink_rows", 0) for o in cycles) / c, "count")
    put("sinks.index_files", last.get("index_files", 0), "count")
    put("sinks.index_bytes_per_doc", last.get("index_bytes", 0) / max(1, last.get("index_files", 0)), "B")
    put("loadgen.land_ms", t.self_total("loadgen.land") / n, "ms")

    for op in OPERATORS:
        spans = t.named(f"operators.{op}")
        put(f"operators.{op}_ms", sum(s["end"] - s["start"] for s in spans) / n, "ms")
        put(f"operators.{op}_jobs", sum(len(t.jobs_under(s)) for s in spans) / n, "count")
        put(f"operators.{op}_driver_gap_ms", sum(t.driver_gap(s) for s in spans) / n, "ms")

    put("spark.shuffle_write_mb", sum(j["shuffle_write_bytes"] for j in all_jobs) / MB / n, "MB")
    put("spark.shuffle_read_mb", sum(j["shuffle_read_bytes"] for j in all_jobs) / MB / n, "MB")
    put("spark.spill_mb", sum(j["spill_bytes"] for j in all_jobs) / MB / n, "MB")
    put("spark.executor_cpu_s", sum(j["cpu_ns"] for j in all_jobs) / 1e9 / n, "s")
    put("spark.unattributed_jobs", t.unattributed, "count")
    put("jvm.gc_ms", raw["gc_ms"] / n, "ms")
    put("jvm.gc_cpu_ms", jvm_cpu_ms(raw, "gc"), "ms")
    put("jvm.jit_cpu_ms", jvm_cpu_ms(raw, "jit"), "ms")
    put("jvm.heap_peak_after_gc_mb", max(raw["heap_after_gc_mb"] + raw["window_heap_after_gc_mb"]), "MB")
    throughput, p50 = wall(workload, raw)
    put("traced.cpu_ms_per_op", cpu_ms_per_op(raw), "ms")
    put("traced.throughput_per_s", throughput, "1/s")
    put("traced.latency_p50_ms", p50, "ms")
    return m
