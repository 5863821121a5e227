"""Measurement helpers: spans, Spark's own counters, process-tree memory.

Spans are recorded in the benchmark's own code around calls into the
engine's public functions and kept in memory until the run ends. Counts come
from Spark's public surfaces read after each action: job groups on
``statusTracker``, the SQL status store behind the SQL UI (plan-node
metrics, including the ``MapInPandas`` Python-worker metrics) and
``StreamingQueryProgress``.
"""

from __future__ import annotations

import math
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median

# -- spans -----------------------------------------------------------------


@dataclass(eq=False)
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and
    sets no Spark job group, so the untraced path stays untouched."""

    def __init__(self, enabled: bool = False):
        self.spark = None  # set by the caller before a traced pass
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._group = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            self._group += 1
            sp.attrs["group"] = f"perfbench-{self._group}"
            sc.setJobGroup(sp.attrs["group"], name)
            executions_before = _sql_store(self.spark).executionsCount()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                # jobs of a child span count in the child's group only
                if self._stack:
                    outer = self.spans[self._stack[-1]]
                    sc.setJobGroup(outer.attrs["group"], outer.name)
                else:
                    sc.setJobGroup("perfbench", "")
                sp.attrs.update(spark_counts(self.spark, sp.attrs["group"]))
                sp.attrs["sql"] = sql_executions_since(self.spark, executions_before)

    def self_times(self) -> list[float]:
        """Each span's duration minus the part its direct children cover."""
        out = []
        for i, sp in enumerate(self.spans):
            covered = sum(c.end - c.start for c in self.spans if c.parent == i)
            out.append(max(0.0, (sp.end - sp.start) - covered))
        return out

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        selfs = self.self_times()
        return [
            {
                "id": i,
                "name": sp.name,
                "start_s": sp.start - t0,
                "end_s": sp.end - t0,
                "parent": sp.parent,
                "self_s": selfs[i],
                "attrs": sp.attrs,
            }
            for i, sp in enumerate(self.spans)
        ]


# -- Spark counters ----------------------------------------------------------


def spark_counts(spark, group: str) -> dict:
    """Job / stage / task counts of one job group from ``statusTracker``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is None:
                continue
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def _sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ns": 1e-6, "ms": 1.0, "s": 1000.0, "m": 60_000.0, "min": 60_000.0, "h": 3_600_000.0,
}
_NUM = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB|ns|ms|s|min|m|h)?\b")


def parse_metric(text: str) -> dict:
    """A formatted SQL metric value → numbers in bytes / ms / counts.

    ``"1,234"`` → total; ``"total (min, med, max (stageId: taskId))\\n
    8.1 s (1.9 s, 2.1 s, 2.1 s (stage 2.0: task 7))"`` → total/min/med/max."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    body = re.sub(r"\(stage [^)]*\)", "", body)
    nums = [float(n.replace(",", "")) * _UNITS.get(u or "B", 1) for n, u in _NUM.findall(body)]
    if not nums:
        return {"total": 0.0}
    out = {"total": nums[0]}
    if len(nums) >= 4:
        out.update(min=nums[1], med=nums[2], max=nums[3])
    return out


def sql_executions_since(spark, before: int) -> list[dict]:
    """Plan-node metrics of every SQL execution that started after the
    store held ``before`` executions: [{"id", "nodes": [{"name",
    "metrics": {name: parsed}}]}]."""
    store = _sql_store(spark)
    count = store.executionsCount()
    if count <= before:
        return []
    lst = store.executionsList(before, count - before)
    out = []
    for i in range(lst.size()):
        ex = lst.apply(i)
        eid = ex.executionId()
        values = store.executionMetrics(eid)
        nodes = []
        it = store.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            node = it.next()
            metrics = {}
            mi = node.metrics().iterator()
            while mi.hasNext():
                m = mi.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append({"name": node.name(), "metrics": metrics})
        out.append({"id": eid, "nodes": nodes})
    return out


def node_metric(executions: list[dict], node: str, metric: str) -> float:
    """Total of ``metric`` over every plan node named ``node`` (prefix match)."""
    total = 0.0
    for ex in executions:
        for nd in ex["nodes"]:
            if nd["name"].startswith(node):
                total += nd["metrics"].get(metric, {}).get("total", 0.0)
    return total


def node_metrics(executions: list[dict], node: str, metric: str) -> list[dict]:
    return [
        nd["metrics"][metric]
        for ex in executions
        for nd in ex["nodes"]
        if nd["name"].startswith(node) and metric in nd["metrics"]
    ]


def subtree(t: Tracer, span) -> list[Span]:
    """``span`` and every span under it."""
    idx = next(i for i, sp in enumerate(t.spans) if sp is span)
    out = [span]
    for sp in t.spans[idx + 1 :]:
        p = sp.parent
        while p is not None and p > idx:
            p = t.spans[p].parent
        if p == idx:
            out.append(sp)
    return out


def subtree_sql(t: Tracer, span) -> list[dict]:
    return [ex for sp in subtree(t, span) for ex in sp.attrs.get("sql", [])]


def spark_totals(t: Tracer, span) -> dict:
    """The ``spark`` layer of one span and its children: job, stage and task
    counts, failed tasks and shuffle fetch wait."""
    spans = subtree(t, span)
    out = {
        f"spark.{k}": float(sum(sp.attrs.get(k, 0) for sp in spans))
        for k in ("jobs", "stages", "tasks", "failed_tasks")
    }
    out["spark.shuffle_fetch_wait_ms"] = node_metric(
        subtree_sql(t, span), "Exchange", "fetch wait time"
    )
    return out


def live_pins(spark) -> int:
    """Persistent RDDs plus CacheManager entries: storage a run left behind."""
    jsc = spark.sparkContext._jsc
    persistent = jsc.getPersistentRDDs().size()
    cached = 0 if spark._jsparkSession.sharedState().cacheManager().isEmpty() else 1
    return int(persistent) + cached


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# -- memory ------------------------------------------------------------------


def _children(pid_of_parent: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(pid_of_parent.get(p, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident set size summed over ``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _children(kids, root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's summed RSS every ``interval`` seconds on a
    daemon thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: steal is time the
    hypervisor ran someone else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


# -- statistics --------------------------------------------------------------


def weighted_percentile(samples: list[tuple[float, int]], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) over (value, count) samples."""
    items = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * sum(n for _v, n in items)))
    seen = 0
    for v, n in items:
        seen += n
        if seen >= rank:
            return v
    return items[-1][0]


def percentile(values: list[float], q: float) -> float:
    return weighted_percentile([(v, 1) for v in values], q)




# -- metric catalogue and the trace side output -------------------------------

#: the end-to-end metrics every untraced run reports, with their units
END_TO_END_UNITS = {
    "records_per_s": "records/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

#: every per-layer metric a traced run reports, with its unit; layers a
#: workload does not exercise report 0
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.binlog.decode_s": "s",
    "sources.binlog.python_ms": "ms",
    "sources.binlog.arrow_bytes": "bytes",
    "sources.binlog.task_max_over_median": "ratio",
    "sources.pgoutput.call_s": "s",
    "sources.pgoutput.decode_s": "s",
    "sources.pgoutput.jobs": "count",
    "sources.pgoutput.stages": "count",
    "sources.pgoutput.shuffle_bytes": "bytes",
    "sources.pgoutput.python_ms": "ms",
    "operators.chain_s": "s",
    "operators.codegen_ms": "ms",
    "sinks.kafka_eos.produce_s": "s",
    "sinks.kafka_eos.transactions": "count",
    "sinks.kafka_eos.records_per_txn": "records",
    "sinks.kafka_eos.bytes": "bytes",
    "sinks.files.write_s": "s",
    "sinks.files.files": "count",
    "sinks.files.bytes_per_record": "bytes",
    "sinks.files.shuffle_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "records",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.generator_late_ms": "ms",
    "operators.quality.filter_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pair_precision": "ratio",
    "operators.dedup.planted_recall": "ratio",
    "operators.dedup.cc_rounds": "count",
    "operators.dedup.cc_s": "s",
    "operators.lm.score_s": "s",
    "operators.lm.shuffle_bytes": "bytes",
    "plans.lineage.live_pins_end": "count",
    "plans.lineage.checkpoint_bytes_end": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_fetch_wait_ms": "ms",
    "trace.pass_s": "s",
    "trace.overhead_share": "ratio",
    "trace.attributed_share": "ratio",
}

# StreamingQueryProgress.durationMs key → per-layer metric (median per batch)
_DURATIONS = {
    "triggerExecution": "streaming.trigger_ms",
    "addBatch": "streaming.add_batch_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
}


def streaming_metrics(stream: dict) -> dict:
    out = {
        "streaming.batches": float(stream["batches"]),
        "streaming.rows_per_batch": float(stream["rows_per_batch"]),
        "streaming.generator_late_ms": percentile(stream["generator_late_ms"], 99)
        if stream["generator_late_ms"] else 0.0,
    }
    for key, name in _DURATIONS.items():
        vals = [p.get("durationMs", {}).get(key) for p in stream["progress"]]
        vals = [v for v in vals if v is not None]
        out[name] = float(median(vals)) if vals else 0.0
    return out


def layer_metrics(*, session: tuple, traced: list, untraced_walls: list, check: dict,
                  stream: dict | None, pins_end: int, ckpt_bytes: int) -> dict:
    """Per-layer metrics of a traced run: the median over traced passes of
    each figure they report, plus set-up, streaming, sink and leak figures."""
    out = dict.fromkeys(LAYER_UNITS, 0.0)
    for key in {k for d in traced for k in d}:
        out[key] = float(median([d.get(key, 0.0) for d in traced]))
    out["session.start_s"], out["session.warmup_s"] = session
    if "transactions" in check:  # the Kafka verification drain
        out["sinks.kafka_eos.transactions"] = float(check["transactions"])
        out["sinks.kafka_eos.records_per_txn"] = check["expected"] / max(1, check["transactions"])
        out["sinks.kafka_eos.bytes"] = float(check["bytes"])
    if stream is not None:
        out.update(streaming_metrics(stream))
    out["plans.lineage.live_pins_end"] = float(pins_end)
    out["plans.lineage.checkpoint_bytes_end"] = float(ckpt_bytes)
    if untraced_walls and traced:
        # the full path's wall under tracing against the last untraced pass,
        # the one closest in time (passes still speed up as the JIT warms)
        out["trace.overhead_share"] = out["trace.pass_s"] / untraced_walls[-1] - 1.0
    return out


TRACE_SCHEMA = 1


def trace_document(*, workload: str, seed: int, tracer: Tracer, traced: list,
                   layers: dict, untraced_walls: list, stream: dict | None) -> dict:
    """The traced run's side output. Its shape is pinned by
    perfbench/tests/test_trace_schema.py."""
    return {
        "schema": TRACE_SCHEMA,
        "workload": workload,
        "seed": seed,
        "spans": tracer.to_json(),
        "passes": traced,
        "layers": {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()},
        "overhead": {
            "untraced_pass_s": untraced_walls,
            "traced_pass_s": [d.get("trace.pass_s", 0.0) for d in traced],
            "share": layers.get("trace.overhead_share", 0.0),
        },
        "streaming": None if stream is None else {
            "progress": stream["progress"],
            "generator_late_ms": stream["generator_late_ms"],
        },
    }
