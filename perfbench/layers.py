"""Per-layer metrics from one traced run.

The runner (`src/main/scala/perfbench`) records spans around each operation and around each call it
makes into a layer, plus Spark's job, stage and task events, streaming
progress, and the final physical plan of every action (see
`src/main/scala/perfbench/Trace.scala`). Here each Spark record is tied
to the operation whose span was open when it started, and each metric is
reduced to one number: the median over the run's timed operations
unless its name says otherwise. Layers a workload leaves idle read 0.
"""
import os
import statistics

from gen import DASHBOARD_QUERIES

# Metrics every traced run prints (BENCHMARK.json "per_layer"), in order.
COMMON = [
    "parse.self_ms_per_batch", "parse.valid_share",
    "streaming.trigger_ms_p50", "streaming.sink_ms_p50", "streaming.overhead_ms_p50",
    "storage.write_ms_per_batch", "storage.files_written_per_batch",
    "storage.bytes_written_per_line", "storage.files_scanned_per_query",
    "storage.bytes_scanned_per_query",
    "plans.scan_rows_per_output_row", "plans.exchanges_per_op", "plans.sort_merge_joins_per_op",
    "plans.broadcast_joins_per_op", "plans.scans_per_op",
    "analytics.zscore_ms_per_batch",
    "functions.non_codegen_nodes_per_op",
    "ml.train_s", "ml.predict_ms_per_batch",
    "pins.blocks_built", "pins.resident_mb",
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "spark.driver_gap_ms_per_op", "spark.executor_cpu_ms_per_op", "spark.cpu_busy_share",
    "spark.shuffle_write_mb_per_op", "spark.shuffle_read_mb_per_op", "spark.spill_mb_per_op",
    "spark.gc_ms_per_op", "spark.task_skew",
] + [f"analytics.query_ms.{q}" for q in sorted(DASHBOARD_QUERIES)]
INDEX_TABLES = ("_bands", "_grams", "_digests")


def unit(name):
    base = name.split(".")[1]
    if "_ms" in base:
        return "ms"
    if base.endswith("_s"):
        return "s"
    if "_mb" in base:
        return "MB"
    if base.endswith(("share", "skew")):
        return "ratio"
    if "bytes" in base:
        return "B/line" if base.endswith("_per_line") else "B"
    return "count"


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Run:
    """The trace of one run, indexed by timed operation."""

    def __init__(self, run, trace):
        self.run = run
        self.ops = [op for op in run["ops"] if op["ok"]]
        spans = trace["spans"]
        self.op_span = {s["op"]: s for s in spans if s["name"] == "op" and s["op"] >= 0}
        self.spans = spans
        stage_by_id = {s["id"]: s for s in trace["stages"]}
        tasks = {}
        for t in trace["tasks"]:
            tasks.setdefault(t["stage"], []).append(t)
        self.jobs, self.stages, self.tasks, self.plans = {}, {}, {}, {}
        for op in self.ops:
            s = self.op_span[op["i"]]
            lo, hi = s["startMs"], s["endMs"]
            jobs = [j for j in trace["jobs"] if lo <= j["startMs"] <= hi]
            stages = [stage_by_id[i] for j in jobs for i in j["stages"] if i in stage_by_id]
            self.jobs[op["i"]] = jobs
            self.stages[op["i"]] = stages
            self.tasks[op["i"]] = [t for st in stages for t in tasks.get(st["id"], [])]
            self.plans[op["i"]] = [p for p in trace["plans"] if lo <= p["startMs"] <= hi]
        self.progress = {p["batchId"]: p for p in trace["progress"]}

    def span_ms(self, name):
        """Total time in spans named `name` inside each op, per op."""
        out = {o["i"]: 0.0 for o in self.ops}
        for s in self.spans:
            if s["name"] == name and s["op"] in out:
                out[s["op"]] += (s["endNs"] - s["startNs"]) / 1e6
        return out

    def per_op(self, f):
        return med(f(op) for op in self.ops)

    def plan_sum(self, op, key, pred=lambda p: True):
        return sum(p[key] for p in self.plans[op["i"]] if pred(p))


def _spark_metrics(r, cores):
    def gap(op):
        s = r.op_span[op["i"]]
        lo, hi = s["startMs"], s["endMs"]
        iv = sorted((max(lo, j["startMs"]), min(hi, j["endMs"] if j["endMs"] > 0 else hi))
                    for j in r.jobs[op["i"]])
        busy, cur_lo, cur_hi = 0, None, None
        for a, b in iv:
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        return max(0.0, op["ms"] - busy)

    def skew(op):
        st = [s for s in r.stages[op["i"]] if s["endMs"] > 0]
        if not st:
            return 0.0
        slow = max(st, key=lambda s: s["endMs"] - s["submitMs"])
        ms = [t["ms"] for t in r.tasks[op["i"]] if t["stage"] == slow["id"]]
        return max(ms) / max(1.0, med(ms)) if ms else 0.0

    mb = 1e6
    return {
        "spark.jobs_per_op": r.per_op(lambda op: len(r.jobs[op["i"]])),
        "spark.stages_per_op": r.per_op(lambda op: len(r.stages[op["i"]])),
        "spark.tasks_per_op": r.per_op(lambda op: len(r.tasks[op["i"]])),
        "spark.driver_gap_ms_per_op": r.per_op(gap),
        "spark.executor_cpu_ms_per_op": r.per_op(
            lambda op: sum(t["cpuNs"] for t in r.tasks[op["i"]]) / 1e6),
        "spark.cpu_busy_share": r.per_op(
            lambda op: sum(t["cpuNs"] for t in r.tasks[op["i"]]) / 1e6 / (op["ms"] * cores)),
        "spark.shuffle_write_mb_per_op": r.per_op(
            lambda op: sum(t["shuffleWrite"] for t in r.tasks[op["i"]]) / mb),
        "spark.shuffle_read_mb_per_op": r.per_op(
            lambda op: sum(t["shuffleRead"] for t in r.tasks[op["i"]]) / mb),
        "spark.spill_mb_per_op": r.per_op(lambda op: sum(t["spill"] for t in r.tasks[op["i"]]) / mb),
        "spark.gc_ms_per_op": r.per_op(lambda op: sum(t["gcMs"] for t in r.tasks[op["i"]])),
        "spark.task_skew": r.per_op(skew),
    }


def _plan_metrics(r, out_rows):
    ps = r.plan_sum
    return {
        "plans.scan_rows_per_output_row": r.per_op(
            lambda op: ps(op, "scanRows") / max(1, out_rows(op))),
        "plans.exchanges_per_op": r.per_op(lambda op: ps(op, "exchanges")),
        "plans.sort_merge_joins_per_op": r.per_op(lambda op: ps(op, "smj")),
        "plans.broadcast_joins_per_op": r.per_op(lambda op: ps(op, "bhj")),
        "plans.scans_per_op": r.per_op(lambda op: ps(op, "scans")),
        "functions.non_codegen_nodes_per_op": r.per_op(lambda op: ps(op, "nonCodegen")),
    }


def _stream_metrics(r):
    def prog(op, key):
        bids = op["info"]["batch_ids"]
        return sum(r.progress[b][key] for b in bids if b in r.progress)
    return {
        "streaming.trigger_ms_p50": r.per_op(lambda op: prog(op, "triggerMs")),
        "streaming.sink_ms_p50": r.per_op(lambda op: prog(op, "addBatchMs")),
        "streaming.overhead_ms_p50": r.per_op(
            lambda op: prog(op, "triggerMs") - prog(op, "addBatchMs")),
    }


def dir_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs)
    return total / 1e6


def per_layer(workload, run, trace, out, observed, cores):
    """`observed` carries what the checks loaded from the program's
    outputs (stored rows per stream batch id for `log_stream`)."""
    r = Run(run, trace)
    m = {k: 0.0 for k in COMMON}
    m.update(_spark_metrics(r, cores))
    m["pins.blocks_built"] = run.get("rdd_blocks_built", 0)
    m["pins.resident_mb"] = run.get("resident_bytes", 0) / 1e6
    if workload == "log_stream":
        stored = observed["stored_rows"]
        m.update(_stream_metrics(r))
        m.update(_plan_metrics(r, lambda op: op["items"]))
        m["parse.self_ms_per_batch"] = med(r.span_ms("parse").values())
        m["parse.valid_share"] = r.per_op(
            lambda op: sum(stored.get(b, 0) for b in op["info"]["batch_ids"]) / op["items"])
        m["storage.write_ms_per_batch"] = med(r.span_ms("storage.write").values())
        raw = lambda p: p["writeTable"] == "raw"  # noqa: E731
        m["storage.files_written_per_batch"] = r.per_op(lambda op: r.plan_sum(op, "writeFiles", raw))
        m["storage.bytes_written_per_line"] = r.per_op(
            lambda op: r.plan_sum(op, "writeBytes", raw) / op["items"])
        m["analytics.zscore_ms_per_batch"] = med(r.span_ms("analytics.zscore").values())
        m["ml.train_s"] = run["ml_train_s"]
        m["ml.predict_ms_per_batch"] = med(r.span_ms("ml.predict").values())
    elif workload in ("log_dashboard", "corpus_batch"):
        m.update(_plan_metrics(r, lambda op: op["info"]["rows"]))
        m["storage.files_scanned_per_query"] = r.per_op(lambda op: r.plan_sum(op, "scanFiles"))
        m["storage.bytes_scanned_per_query"] = r.per_op(lambda op: r.plan_sum(op, "scanBytes"))
        prefix = "analytics" if workload == "log_dashboard" else "corpus"
        by_q = {}
        for op in r.ops:
            by_q.setdefault(op["name"], []).append(op["ms"])
        for q in sorted(by_q):
            m[f"{prefix}.query_ms.{q}"] = med(by_q[q])
            if workload == "corpus_batch":
                m[f"pins.cold_minus_warm_ms.{q}"] = run["cold_ms"][q] - med(by_q[q])
        if workload == "corpus_batch":
            m["pins.artifact_mb"] = dir_mb(os.path.join(out, "tmp"))
    else:  # corpus_delta
        m.update(_stream_metrics(r))
        m.update(_plan_metrics(r, lambda op: op["items"]))
        index = lambda p: p["writeTable"].endswith(INDEX_TABLES)  # noqa: E731
        append = {op["i"]: r.plan_sum(op, "writeMs", index) for op in r.ops}
        assign, sink = r.span_ms("corpus.split_assign"), r.span_ms("corpus.split_sink")
        fold = r.span_ms("corpus.split_fold")
        m["corpus.admission_ms_per_batch"] = med(r.span_ms("corpus.admission").values())
        m["corpus.split_assign_ms_per_batch"] = med(assign[i] + sink[i] for i in assign)
        m["corpus.split_fold_ms_per_batch"] = med(fold[i] - append[i] for i in fold)
        m["corpus.ann_encode_ms_per_batch"] = med(r.span_ms("corpus.ann_encode").values())
        m["storage.index_append_ms_per_batch"] = med(append.values())
        m["dedup.bands_rows_read_per_batch"] = r.per_op(lambda op: r.plan_sum(op, "bandsRows"))
        warm = [s for s in r.spans if s["name"] == "setup.warmup"]
        m["pins.cold_minus_warm_ms.ingest_batch"] = (
            (warm[0]["endNs"] - warm[0]["startNs"]) / 1e6 / max(1, run["warmup_batches"])
            - med(op["ms"] for op in r.ops)) if warm else 0.0
        m["pins.artifact_mb"] = dir_mb(os.path.join(out, "tmp"))
    return {k: {"value": float(v), "unit": unit(k)} for k, v in m.items()}
