"""Shared machinery of the benchmark: run context, span tracer, Spark
event-log attribution, host canary, memory footprint and statistics.

A workload module calls into the engine's public functions only, and
wraps each call in ``ctx.tracer.span(name, op_id)``. With tracing off a
span costs two clock reads. With tracing on it also:

- tags the Spark jobs the call starts with ``setJobGroup`` (one group
  per span), so the event log attributes stages, tasks, executor run
  time and shuffle bytes to the span;
- counts py4j round trips made inside the span, by wrapping the py4j
  client's ``send_command``.

Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ------------------------------------------------------------ statistics


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return float(xs[rank - 1])


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    py4j: int = 0
    children_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled`` can be flipped between
    loop rounds, which is how the traced run measures its own
    overhead."""

    spark: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    py4j_calls: int = 0

    def install_py4j_counter(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def counting(*args, **kwargs):
            self.py4j_calls += 1
            return inner(*args, **kwargs)

        client.send_command = counting

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=len(self.spans),
            name=name,
            start=time.perf_counter(),
            parent=parent.sid if parent else None,
            op_id=op_id if op_id is not None else (parent.op_id if parent else None),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"span-{sp.sid}", name)
        calls0 = self.py4j_calls
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += sp.dur
                sc.setJobGroup(f"span-{parent.sid}", parent.name)
            else:
                sc.setJobGroup("untraced", "")
            sp.py4j = self.py4j_calls - calls0

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": sp.sid,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "parent": sp.parent,
                            "op_id": sp.op_id,
                            "py4j": sp.py4j,
                            "self_s": sp.self_s,
                        }
                    )
                    + "\n"
                )


# ------------------------------------------------------- event log


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: int = 0
    records_read: int = 0


def event_log_stats(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, stages, tasks, executor run time, shuffle
    bytes (read + written) and input records, from the Spark event
    log(s) under ``log_dir``. Read after ``spark.stop()`` so the log is
    complete."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    paths = sorted(
        p
        for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    st = out.setdefault(group, GroupStats())
                    st.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        out[stage_group[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    st = out[group]
                    st.tasks += 1
                    st.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    st.shuffle_bytes += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    st.records_read += m.get("Input Metrics", {}).get("Records Read", 0)
    return out


def span_stats(tracer: Tracer, groups: dict[str, GroupStats], pred) -> GroupStats:
    """Sum the event-log stats of every span matching ``pred`` and of
    all its descendants (a job belongs to its innermost span)."""
    by_parent: dict[int | None, list[Span]] = {}
    for sp in tracer.spans:
        by_parent.setdefault(sp.parent, []).append(sp)
    total = GroupStats()
    seen: set[int] = set()

    def add(sp: Span) -> None:
        if sp.sid in seen:
            return
        seen.add(sp.sid)
        g = groups.get(f"span-{sp.sid}")
        if g is not None:
            total.jobs += g.jobs
            total.stages += g.stages
            total.tasks += g.tasks
            total.executor_run_s += g.executor_run_s
            total.shuffle_bytes += g.shuffle_bytes
            total.records_read += g.records_read
        for ch in by_parent.get(sp.sid, []):
            add(ch)

    for sp in tracer.spans:
        if pred(sp):
            add(sp)
    return total


# ---------------------------------------------------------------- host


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_pct(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave other guests since
    ``since`` (a `cpu_ticks` reading): how contended the host was."""
    steal, total = cpu_ticks()
    return 100.0 * (steal - since[0]) / (total - since[1]) if total > since[1] else 0.0


def load1() -> float:
    try:
        with open("/proc/loadavg", encoding="ascii") as f:
            return float(f.read().split()[0])
    except OSError:
        return os.getloadavg()[0]


def canary_ms(spark, reps: int = 3) -> float:
    """Median wall time of a fixed JVM-only job (codegen sum over
    range(50M): no I/O, no shuffle, no Python workers). It moves only
    with the compute the host gives the run."""
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(50_000_000).selectExpr("sum(id * 2 + 1)").collect()
        out.append((time.perf_counter() - t0) * 1000.0)
    return median(out)


def _proc_tree(root_pid: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat, encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        parents.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parents.get(pid, []))
    return out


def footprint_mb() -> float:
    """Peak resident memory (VmHWM) summed over this process and all
    its descendants: the driver's Python, the JVM and the Python
    workers."""
    total_kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_mem() -> str:
    """A driver heap that fits the host: a quarter of physical memory,
    between 1 and 2 GiB."""
    try:
        with open("/proc/meminfo", encoding="ascii") as f:
            total_kb = int(f.readline().split()[1])
    except (OSError, ValueError, IndexError):
        return "2g"
    return f"{max(1, min(2, total_kb // (4 * 1024 * 1024)))}g"


# ------------------------------------------------------------- op loop


@dataclass
class OpResult:
    """One timed op: its class, wall seconds (construct + execute) and
    whether the tracer was on."""

    n: int
    cls: str
    seconds: float
    traced: bool
    info: dict = field(default_factory=dict)


def run_ops(ctx, ops, do_op, round_len: int, warmup: int = 0) -> list[OpResult]:
    """The closed loop shared by every workload: issue ``ops`` (a list
    of ``(class, payload)``) in order, one at a time. ``do_op(n, cls,
    payload)`` returns ``(seconds, error or None, info)``; a raised
    exception or an error fails the op. The first ``warmup`` ops
    are checked but not timed, and their spans are dropped. In a traced
    run, the timed ops alternate between tracing on and off every
    ``round_len`` ops, starting on, so the run measures its own tracing
    overhead."""
    out: list[OpResult] = []
    for n, (cls, payload) in enumerate(ops):
        traced = ctx.trace and (n < warmup or ((n - warmup) // round_len) % 2 == 0)
        ctx.tracer.enabled = traced
        ctx.attempted += 1
        try:
            with ctx.tracer.span(f"op.{cls}", op_id=n):
                seconds, err, info = do_op(n, cls, payload)
        except Exception as e:  # noqa: BLE001 - a failed call is a failed op
            seconds, err, info = 0.0, f"{type(e).__name__}: {e}", {}
        if err:
            ctx.fail(f"op {n} {cls}: {err}")
            continue
        if n >= warmup:
            out.append(OpResult(n, cls, seconds, traced, info))
    ctx.tracer.enabled = False
    # per-layer numbers describe timed ops only
    ctx.tracer.spans = [sp for sp in ctx.tracer.spans if sp.op_id is None or sp.op_id >= warmup]
    return out


def class_medians_ms(results: list[OpResult], classes, traced=None) -> dict[str, float]:
    return {
        c: median(
            r.seconds * 1000.0
            for r in results
            if r.cls == c and (traced is None or r.traced == traced)
        )
        for c in classes
    }


def loop_metrics(ctx, results: list[OpResult], classes) -> None:
    """The end-to-end loop metrics every workload reports: the
    geometric mean over op classes of each class's median latency, and
    ops completed per second of op time."""
    ctx.metrics["op_p50_ms"] = (geomean(class_medians_ms(results, classes).values()), "ms")
    busy = sum(r.seconds for r in results)
    ctx.metrics["ops_per_s"] = (len(results) / busy if busy else 0.0, "1/s")


def tracing_overhead_pct(results: list[OpResult], classes) -> float:
    on = geomean(class_medians_ms(results, classes, traced=True).values())
    off = geomean(class_medians_ms(results, classes, traced=False).values())
    return (on / off - 1.0) * 100.0 if on and off else 0.0


def span_median_ms(tracer: Tracer, name: str) -> float:
    return median(sp.dur * 1000.0 for sp in tracer.spans if sp.name == name)


def layer_self_ms(tracer: Tracer, layer: str, n_ops: int) -> float:
    """Self time spent in spans of ``layer`` (name prefix), per op."""
    total = sum(sp.self_s for sp in tracer.spans if sp.name.startswith(layer + "."))
    return total * 1000.0 / n_ops if n_ops else 0.0


def session_metrics(ctx, groups, cores: int) -> None:
    """Scheduler and py4j-bridge work per traced op, from the op spans."""
    ops = [sp for sp in ctx.tracer.spans if sp.name.startswith("op.")]
    n = len(ops)
    st = span_stats(ctx.tracer, groups, lambda sp: sp.name.startswith("op."))
    wall = sum(sp.dur for sp in ops)
    L = ctx.layer
    L["session.jobs_per_op"] = (st.jobs / n if n else 0.0, "count")
    L["session.stages_per_op"] = (st.stages / n if n else 0.0, "count")
    L["session.tasks_per_op"] = (st.tasks / n if n else 0.0, "count")
    L["session.py4j_calls_per_op"] = (sum(sp.py4j for sp in ops) / n if n else 0.0, "count")
    L["session.core_utilization"] = (st.executor_run_s / (wall * cores) if wall else 0.0, "ratio")
    L["session.persistent_rdds_end"] = (ctx.persistent_rdds, "count")


def job_layer_metrics(ctx, groups, layer: str, span_name: str, cores: int) -> None:
    """Executor-side cost of one batch job's traced runs, per run."""
    spans = [sp for sp in ctx.tracer.spans if sp.name == span_name]
    n = len(spans)
    st = span_stats(ctx.tracer, groups, lambda sp: sp.name == span_name)
    wall = sum(sp.dur for sp in spans)
    L = ctx.layer
    L[f"{layer}.executor_busy_s"] = (st.executor_run_s / n if n else 0.0, "s")
    L[f"{layer}.shuffle_mb"] = (st.shuffle_bytes / n / 1e6 if n else 0.0, "MB")
    L[f"{layer}.stages"] = (st.stages / n if n else 0.0, "count")
    L[f"{layer}.tasks"] = (st.tasks / n if n else 0.0, "count")
    L[f"{layer}.core_utilization"] = (st.executor_run_s / (wall * cores) if wall else 0.0, "ratio")


# Every per-layer metric, with its unit. Each workload fills the ones
# whose layer it reaches; the rest read 0 (the layer did no work). The
# index-upsert and fresh-read metrics only ``ingest`` reaches are added
# by that workload itself.
LAYER_METRICS = {
    "session.jobs_per_op": "count",
    "session.stages_per_op": "count",
    "session.tasks_per_op": "count",
    "session.py4j_calls_per_op": "count",
    "session.core_utilization": "ratio",
    "session.persistent_rdds_end": "count",
    "collection.pins_ms": "ms",
    "collection.self_ms": "ms",
    "ann_index.build_s": "s",
    "ann_index.knn_construct_ms": "ms",
    "ann_index.knn_execute_ms": "ms",
    "ann_index.recommend_construct_ms": "ms",
    "ann_index.recommend_execute_ms": "ms",
    "ann_index.hybrid_construct_ms": "ms",
    "ann_index.hybrid_execute_ms": "ms",
    "ann_index.first_construct_ms": "ms",
    "ann_index.repeat_construct_ms": "ms",
    "ann_index.rows_read_per_result": "count",
    "ann_index.recall_at_10": "ratio",
    "ann_index.self_ms": "ms",
    "text_index.build_s": "s",
    "text_index.construct_ms": "ms",
    "text_index.execute_ms": "ms",
    "text_index.self_ms": "ms",
    "txn.commit_ms": "ms",
    "txn.roll_commit_ms": "ms",
    "txn.bytes_written_per_row": "B",
    "txn.live_segments": "count",
    "txn.self_ms": "ms",
    "cleanse.self_ms": "ms",
    **{
        f"{layer}.{m}": u
        for layer in ("dedup", "similarity", "curated")
        for m, u in (
            ("executor_busy_s", "s"),
            ("shuffle_mb", "MB"),
            ("stages", "count"),
            ("tasks", "count"),
            ("core_utilization", "ratio"),
            ("self_ms", "ms"),
        )
    },
    "dedup.edges": "count",
    "host.canary_ms": "ms",
    "host.load1": "load",
    "tracing.overhead_pct": "%",
}


# ----------------------------------------------------------- tables


def table_segments(root: str) -> int:
    """Live segments of a delta-segmented table's current version, read
    from its public manifest (0 before the first commit)."""
    from cultural_heritage_bigdata_project_spark.operators import txn

    cur = txn.current_version_dir(root)
    return len(txn.read_manifest(root, os.path.basename(cur))[""]["segments"]) if cur else 0


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def timed_commit(root: str, commit) -> dict:
    """Run ``commit()`` against the table at ``root``; returns its
    seconds, whether it rolled segments (the live count did not grow),
    the live segments after it and the bytes it added."""
    segs_before, bytes_before = table_segments(root), tree_bytes(root)
    t0 = time.perf_counter()
    commit()
    dt = time.perf_counter() - t0
    segs = table_segments(root)
    return {
        "s": dt,
        "roll": segs <= segs_before,
        "segments": segs,
        "bytes": max(0, tree_bytes(root) - bytes_before),
    }


def commit_metrics(ctx, commits: list[dict], rows_per_commit) -> None:
    L = ctx.layer
    L["txn.commit_ms"] = (median(c["s"] * 1000.0 for c in commits if not c["roll"]), "ms")
    L["txn.roll_commit_ms"] = (median(c["s"] * 1000.0 for c in commits if c["roll"]), "ms")
    L["txn.live_segments"] = (sum(c["segments"] for c in commits) / len(commits), "count")
    L["txn.bytes_written_per_row"] = (
        sum(c["bytes"] for c in commits) / sum(rows_per_commit(c) for c in commits), "B"
    )


# --------------------------------------------------------------- context


@dataclass
class RunContext:
    """What a workload gets: the session, the tracer, its seed, op
    count and scratch directory, and the sink for its results."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: int
    work: str
    data_dir: str
    trace: bool
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    setup_parts_s: list[float] = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)
