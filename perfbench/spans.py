"""Spans around the calls into each layer, and the attribution of Spark
stages to those spans.

Every span sets its own Spark job group, so each job it starts carries
the span's id. After the run, the Spark event log (uncompressed and
non-rolling, enabled only in the traced run) is parsed with the
standard library: job starts map stages to job groups, and stage
completions carry the executor metrics that are attached to each span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from measure import nearest_rank, tail_percentile

GROUP_PREFIX = "perfbench-span-"

# span name → (per-layer metric of its duration, unit)
TIMED_SPANS = {
    "fused.extract": ("fused.extract_s", "s"),
    "materialize.topn": ("materialize.topn_s", "s"),
    "materialize.graph": ("materialize.graph_s", "s"),
    "canon.cluster": ("canon.cluster_s", "s"),
    "canon.canonicalize": ("canon.canonicalize_s", "s"),
    "sparql.parse": ("sparql.parse_ms", "ms"),
    "sparql.compile": ("sparql.compile_ms", "ms"),
    "sparql.exec": ("sparql.exec_ms", "ms"),
    "ingest.delta": ("ingest.delta_s", "s"),
    "kg_update.merge": ("kg_update.merge_s", "s"),
    "kg_update.refresh": ("kg_update.refresh_s", "s"),
    "snapshots.commit": ("snapshots.commit_s", "s"),
    "textops.signals": ("textops.signals_s", "s"),
    "textops.lm": ("textops.lm_s", "s"),
    "dedup.minhash": ("dedup.minhash_s", "s"),
    "dedup.spans": ("dedup.spans_s", "s"),
}

# spans whose Spark stages are reported, each with SPARK_FIELDS
SPARK_SPANS = [
    "fused.extract", "materialize.topn", "materialize.graph",
    "canon.cluster", "canon.canonicalize",
    "sparql.compile", "sparql.exec", "answer.question",
    "ingest.delta", "kg_update.merge", "kg_update.refresh",
    "snapshots.commit",
    "textops.signals", "textops.lm", "dedup.minhash", "dedup.spans",
]
SPARK_FIELDS = [("stage_s", "s"), ("driver_gap_s", "s"), ("gc_s", "s"),
                ("shuffle_write_mb", "MB"), ("spill_mb", "MB")]

# counts recorded by the workloads (mean per recording) → unit
COUNTS = {
    "fused.raw_triples": "count",
    "materialize.entities": "count",
    "materialize.edges": "count",
    "canon.final_triples": "count",
    "sparql.rows": "count",
    "answer.answers": "count",
    "ingest.rows": "count",
    "ingest.files_written": "count",
    "kg_update.batches": "count",
    "snapshots.bytes_per_delta_doc": "B",
    "dedup.minhash_pairs": "count",
    "dedup.spans_removed": "count",
}

OTHER = [
    ("session.start_s", "s"), ("corpus.gen_s", "s"),
    ("fused.py_run_s", "s"), ("fused.arrow_mb", "MB"),
    ("canon.cluster_driver_s", "s"),
    ("sparql.jobs_per_query", "count"),
    ("sparql.p50_s", "s"), ("sparql.p90_s", "s"),
    ("answer.jobs_per_question", "count"),
    ("answer.stages_per_question", "count"),
    ("answer.exec_cpu_s", "s"), ("answer.p50_s", "s"),
    ("op.self_s", "s"),
    ("spark.unattributed_s", "s"), ("trace.overhead_pct", "%"),
]


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    units = {m: u for m, u in TIMED_SPANS.values()}
    for span in SPARK_SPANS:
        for field, unit in SPARK_FIELDS:
            units[f"{span}.{field}"] = unit
    units.update(COUNTS)
    units.update(dict(OTHER))
    return units


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory, and
    counts of the measured ops.

    Without a SparkContext it records nothing but counts, so the same
    workload code runs traced and untraced."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self.run_id: int | None = None
        self._stack: list[int] = []

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if self.sc is None:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]]
                            if self._stack else None)

    def count(self, name: str, value: float) -> None:
        """Record a count of the op running now (none in set-up)."""
        if self.run_id is not None:
            self.counts.setdefault(name, []).append(value)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------

def _number(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def parse_event_log(path: str) -> tuple[list[dict], list[dict]]:
    """Uncompressed Spark event log → (jobs, stages).

    A job is ``{"id", "group", "submit"}`` (seconds since the epoch);
    a stage attempt is ``{"id", "group", "submit", "end", "metrics"}``
    where ``group`` is the job group of the first job that listed the
    stage (None when that job had none) and ``metrics`` sums the stage's
    accumulables by name."""
    jobs: list[dict] = []
    group_of: dict[int, str | None] = {}
    stages: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs.append({"id": ev["Job ID"], "group": group,
                             "submit": ev["Submission Time"] / 1000})
                for sid in ev["Stage IDs"]:
                    group_of.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" not in info:
                    continue  # skipped: its output already existed
                metrics: dict[str, float] = {}
                for acc in info.get("Accumulables", []):
                    v = _number(acc.get("Value"))
                    if v is not None and acc.get("Name"):
                        metrics[acc["Name"]] = metrics.get(acc["Name"], 0) + v
                stages.append({
                    "id": info["Stage ID"],
                    "group": group_of.get(info["Stage ID"]),
                    "submit": info["Submission Time"] / 1000,
                    "end": info.get("Completion Time",
                                    info["Submission Time"]) / 1000,
                    "metrics": metrics})
    return jobs, stages


def _innermost(spans: list[dict], t: float) -> int | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (
                best is None or s["start"] >= spans[best]["start"]):
            best = s["id"]
    return best


def attribute(spans: list[dict], items: list[dict]
              ) -> tuple[dict[int, list[dict]], list[dict]]:
    """Assign jobs or stages to spans.

    An item carrying one of our job groups belongs to that span. An item
    whose group Spark set itself (a streaming query tags its jobs with
    its run id) goes to the innermost span open when it was submitted.
    Items with no group at all (jobs started from threads the benchmark
    did not tag) are returned as unattributed."""
    by_span: dict[int, list[dict]] = {}
    loose: list[dict] = []
    for it in items:
        g = it["group"]
        if g is None:
            loose.append(it)
            continue
        sid = (int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX)
               else _innermost(spans, it["submit"]))
        if sid is None:
            loose.append(it)
        else:
            by_span.setdefault(sid, []).append(it)
    return by_span, loose


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tracer: Tracer, jobs: list[dict],
                  stages: list[dict]) -> dict[str, float]:
    """Per-layer metrics of one traced phase.

    Spans with no run id (set-up and warm-up) are left out, and so are
    the jobs and stages attributed to them. Times are means per span
    occurrence."""
    spans = tracer.spans
    measured = [s for s in spans if s["run"] is not None]
    stage_by, stage_loose = attribute(spans, stages)
    job_by, _ = attribute(spans, jobs)
    out: dict[str, float] = {}

    def occurrences(name):
        return [s for s in measured if s["name"] == name]

    def durations(name):
        return [s["end"] - s["start"] for s in occurrences(name)]

    for name, (metric, unit) in TIMED_SPANS.items():
        scale = 1000 if unit == "ms" else 1
        out[metric] = scale * _mean(durations(name))

    for name in SPARK_SPANS:
        occ = occurrences(name)
        per = {f: [] for f, _ in SPARK_FIELDS}
        for s in occ:
            st = stage_by.get(s["id"], [])
            busy = covered([(x["submit"], x["end"]) for x in st],
                           s["start"], s["end"])
            m = lambda k: sum(x["metrics"].get(k, 0) for x in st)
            per["stage_s"].append(busy)
            per["driver_gap_s"].append(s["end"] - s["start"] - busy)
            per["gc_s"].append(m("internal.metrics.jvmGCTime") / 1000)
            per["shuffle_write_mb"].append(
                m("internal.metrics.shuffle.write.bytesWritten") / 2**20)
            per["spill_mb"].append(
                m("internal.metrics.diskBytesSpilled") / 2**20)
        for f, _ in SPARK_FIELDS:
            out[f"{name}.{f}"] = _mean(per[f])

    for name in COUNTS:
        out[name] = _mean(tracer.counts.get(name, []))

    def stage_sum(name, key):
        occ = occurrences(name)
        total = sum(x["metrics"].get(key, 0)
                    for s in occ for x in stage_by.get(s["id"], []))
        return total / len(occ) if occ else 0.0

    out["fused.py_run_s"] = stage_sum(
        "fused.extract", "time to run Python workers") / 1000
    out["fused.arrow_mb"] = (
        stage_sum("fused.extract", "data sent to Python workers")
        + stage_sum("fused.extract", "data returned from Python workers")
    ) / 2**20
    out["canon.cluster_driver_s"] = out["canon.cluster.driver_gap_s"]

    def under(name, items_by):
        """Items of the measured ``name`` spans and their children, and
        the number of those spans."""
        roots = {s["id"] for s in occurrences(name)}
        items = [x for s in measured if _within(spans, s["id"], roots)
                 for x in items_by.get(s["id"], [])]
        return items, len(roots)

    def ratio(name, items_by):
        items, n = under(name, items_by)
        return len(items) / n if n else 0.0

    out["sparql.jobs_per_query"] = ratio("sparql.query", job_by)
    out["answer.jobs_per_question"] = ratio("answer.question", job_by)
    out["answer.stages_per_question"] = ratio("answer.question", stage_by)
    items, n = under("answer.question", stage_by)
    out["answer.exec_cpu_s"] = sum(
        x["metrics"].get("internal.metrics.executorCpuTime", 0)
        for x in items) / 1e9 / n if n else 0.0

    sq = durations("sparql.query")
    out["sparql.p50_s"] = nearest_rank(sq, 0.5) if sq else 0.0
    # the p90 needs ten samples beyond it; with fewer, the highest
    # percentile that has them, but never below the median
    p = max(tail_percentile(len(sq)) or 0.5, 0.5)
    out["sparql.p90_s"] = nearest_rank(sq, p) if sq else 0.0
    aq = durations("answer.question")
    out["answer.p50_s"] = nearest_rank(aq, 0.5) if aq else 0.0

    op_spans = [s for s in measured if s["name"] == "op"]
    out["op.self_s"] = _mean([
        s["end"] - s["start"] - covered(
            [(c["start"], c["end"]) for c in measured
             if c["parent"] == s["id"]], s["start"], s["end"])
        for s in op_spans])
    # ungrouped stages submitted while a measured op was running
    op_ids = {s["id"] for s in op_spans}
    loose = [x for x in stage_loose
             if _within(spans, _innermost(spans, x["submit"]), op_ids)]
    out["spark.unattributed_s"] = sum(
        x["end"] - x["submit"] for x in loose) / max(len(op_ids), 1)
    return out


def _within(spans: list[dict], sid: int | None, roots: set[int]) -> bool:
    """Whether span ``sid`` is one of ``roots`` or nested in one."""
    while sid is not None and sid not in roots:
        sid = spans[sid]["parent"]
    return sid is not None

