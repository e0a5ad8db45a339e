"""Tracing for the per-layer run: spans recorded around calls into the
engine's public functions, Spark job groups set for the same calls, and the
Spark event log folded by those groups.

Spans live in memory (name, start, end, parent, thread) and are written out
once, when the run ends. The engine is traced from outside: ``install``
replaces public functions at the names their callers resolve (a module
attribute, or a method on its class) and ``uninstall`` puts them back.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

GROUP = "spark.jobGroup.id"

#: job groups the wrappers and workloads set; the event log is folded by these
SPARK_GROUPS = (
    "pipeline", "merge", "quarantine", "txn", "lineage", "bloom",
    "read_keys", "read_changes", "compact", "dedup",
)
SPARK_FIELDS = (
    "jobs", "tasks", "task_cpu_ms", "gc_ms", "shuffle_write_bytes",
    "spill_bytes", "skew_max_over_median",
)


class Tracer:
    """Records spans and counters; sets a Spark job group per span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.active = False

    @contextmanager
    def timed(self):
        """The root span ``bench.timed``; spans, job groups and counters are
        recorded only inside it, so warm-up and checks stay out."""
        self.active = True
        try:
            with self.span("bench.timed"):
                yield
        finally:
            self.active = False

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.active:
            yield
            return
        stack = self._tls.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        prev = self.sc.getLocalProperty(GROUP) if group else None
        if group:
            self.sc.setLocalProperty(GROUP, group)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if group:
                self.sc.setLocalProperty(GROUP, prev)
            rec = {
                "id": sid, "parent": parent, "name": name, "start": t0,
                "end": t1, "thread": threading.current_thread().name,
            }
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, value: float) -> None:
        if self.active:
            with self._lock:
                self.counts[name] += value

    def sample(self, name: str, value: float) -> None:
        if self.active:
            with self._lock:
                self.samples[name].append(value)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


class NoTracer:
    """Stands in for ``Tracer`` in untraced runs: spans cost nothing."""

    def timed(self):
        return nullcontext()

    def span(self, name: str, group: str | None = None):
        return nullcontext()

    def add(self, name: str, value: float) -> None:
        pass

    def sample(self, name: str, value: float) -> None:
        pass


def _wrap(tr: Tracer, fn, namer, group, after=None):
    def wrapper(*args, **kwargs):
        name, grp = namer(args), group(args) if callable(group) else group
        with tr.span(name, grp):
            out = fn(*args, **kwargs)
        if after is not None:
            after(name, args, out)
        return out

    wrapper.__wrapped__ = fn
    return wrapper


def install(tr: Tracer, quarantine_path: str | None = None):
    """Wrap the engine's public functions; returns the undo callable."""
    from arches_rascoll_etl_spark.lake import bloom
    from arches_rascoll_etl_spark.lake.parquet_snapshot import SnapshotTable
    from arches_rascoll_etl_spark.operators import quarantine, txn
    from arches_rascoll_etl_spark.streaming import checkpoint, metrics, pipeline

    def is_quarantine(args) -> bool:
        return quarantine_path is not None and args[0].path == quarantine_path

    def after_merge(name, args, st) -> None:
        if name != "snapshot.merge":
            return
        tr.add("merge_calls", 1)
        if st.applied:
            tr.add("merge_applied", 1)
            for k, v in st.phase_ms.items():
                tr.add(f"snapshot.merge.{k}_ms", v)
            tr.sample("snapshot.merge.affected_buckets", len(st.affected_buckets))

    def after_txn(name, args, out) -> None:
        if not tr.active:
            return
        # counting the carryover is an extra Spark job: give it its own span
        with tr.span("trace.count"):
            tr.add("txn.carryover_rows", out[1].count())

    def after_debt(name, args, out) -> None:
        tr.sample("snapshot.delta_debt.max_files", out["max_delta_files"])

    def const(n):
        return lambda args: n

    patches = [
        (pipeline, "partition_lineage", const("lineage.partition"), "lineage", None),
        (quarantine, "split_quarantine", const("quarantine.split"), "quarantine", None),
        (quarantine, "as_quarantine_rows", const("quarantine.rows"), "quarantine", None),
        (txn, "split_txn_complete", const("txn.split"), "txn", after_txn),
        (bloom, "build_file_blooms", const("bloom.build"), "bloom", None),
        (checkpoint.Checkpoint, "record", const("checkpoint.record"), None, None),
        (metrics.LineageLog, "append", const("lineage.append"), None, None),
        (SnapshotTable, "compact", const("snapshot.compact"), "compact", None),
        (SnapshotTable, "delta_debt", const("snapshot.delta_debt"), None, after_debt),
        (
            SnapshotTable, "merge",
            lambda a: "quarantine.merge" if is_quarantine(a) else "snapshot.merge",
            lambda a: "quarantine" if is_quarantine(a) else "merge",
            after_merge,
        ),
    ]
    saved = []
    for owner, attr, namer, group, after in patches:
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tr, orig, namer, group, after))

    def undo() -> None:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)

    return undo


# ------------------------------------------------------------ analysis


def _self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part its children cover (children
    of one span run in the same thread, so they never overlap)."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in spans}


def descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out, todo = [], [root_id]
    while todo:
        for s in kids[todo.pop()]:
            out.append(s)
            todo.append(s["id"])
    return out


def layer_table(spans: list[dict], root_name: str = "bench.timed") -> tuple[list, float]:
    """Self time per span name under the root spans (one or several timed
    blocks), plus the roots' own self time as the ``unattributed`` line.
    The lines sum to the roots' wall."""
    roots = [s for s in spans if s["name"] == root_name]
    under = [d for r in roots for d in descendants(spans, r["id"])]
    selfs = _self_times(roots + under)
    by_name: dict[str, float] = defaultdict(float)
    for s in under:
        by_name[s["name"]] += selfs[s["id"]]
    wall = sum(r["end"] - r["start"] for r in roots)
    rows = sorted(by_name.items(), key=lambda kv: -kv[1])
    rows.append(("unattributed", sum(selfs[r["id"]] for r in roots)))
    return rows, wall


def format_table(workload: str, rows: list, wall: float) -> str:
    out = [f"layer table: {workload}, timed wall {wall * 1000:.1f} ms"]
    out.append(f"  {'layer (self time)':32s} {'ms':>10s} {'share':>7s}")
    for name, t in rows:
        out.append(f"  {name:32s} {t * 1000:10.1f} {100 * t / wall:6.1f}%")
    return "\n".join(out)


def inclusive_ms(spans: list[dict], name: str) -> float:
    return 1000 * sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def fold_event_log(log_dir: str) -> dict[str, float]:
    """``spark.<group>.<field>`` from the Spark event log of one application,
    for the job groups in ``SPARK_GROUPS`` (other jobs are left out)."""
    # Spark 4 writes a rolling log: a directory of event files per application
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if not f.startswith(".")
    )
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[int, list[dict]] = defaultdict(list)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(GROUP)
                    if g in SPARK_GROUPS:
                        jobs[g] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                    tasks[ev["Stage ID"]].append({
                        "dur": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    out = {f"spark.{g}.{k}": 0.0 for g in SPARK_GROUPS for k in SPARK_FIELDS}
    for g in SPARK_GROUPS:
        out[f"spark.{g}.jobs"] = float(jobs[g])
    for sid, ts in tasks.items():
        g = stage_group.get(sid)
        if g is None:
            continue
        out[f"spark.{g}.tasks"] += len(ts)
        out[f"spark.{g}.task_cpu_ms"] += sum(t["cpu_ms"] for t in ts)
        out[f"spark.{g}.gc_ms"] += sum(t["gc_ms"] for t in ts)
        out[f"spark.{g}.shuffle_write_bytes"] += sum(t["shuffle_write_bytes"] for t in ts)
        out[f"spark.{g}.spill_bytes"] += sum(t["spill_bytes"] for t in ts)
        if len(ts) >= 2:
            med = statistics.median(t["dur"] for t in ts)
            skew = max(t["dur"] for t in ts) / med if med > 0 else 1.0
            key = f"spark.{g}.skew_max_over_median"
            out[key] = max(out[key], skew)
    return out
