"""Benchmark of the CDC ingest engine: one workload per run.

    python3 perfbench/run.py --workload tail_mor --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout: builds nothing, imports the engine from
the checkout, and keeps every file it makes under ``.perfbench_work`` (removed
at exit) and ``.perfbench_out`` (trace output). The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones from a traced run (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "4g"
WORKLOAD_NAMES = ("tail_mor", "dedup_clusters")


def _unit_metrics(pairs: dict[str, tuple[float, str]]) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in pairs.items()}


def end_to_end(m, setup_times: list[float]) -> dict:
    from measure import p50

    return _unit_metrics({
        "setup_s": (p50(setup_times), "s"),
        "throughput_per_s": (m.work / m.work_wall_s, "1/s"),
        "batch_ms_p50": (p50(m.batch_ms), "ms"),
        "lookup_ms_p50": (p50(m.lookup_ms), "ms"),
        "write_amp": (m.bytes_out / m.bytes_in, "ratio"),
        "cpu_s": (m.cpu_s, "s"),
    })


class Session:
    """The benchmark's SparkSession, on local[cores] with engine defaults
    except ``cores``; ``stop`` also ends the JVM and waits for it."""

    def __init__(self, workdir: str, cores: int, event_log: str | None = None):
        from arches_rascoll_etl_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
        }
        if event_log is not None:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop(self, end_jvm: bool) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if not end_jvm or gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise


def run(args, workdir: str) -> tuple[dict, dict]:
    """(details, result) of one benchmark run."""
    import measure
    import tracing
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    t_start = time.perf_counter()
    # a traced run also writes Spark's event log, folded by job group below
    ev_dir = os.path.join(workdir, "eventlog") if args.trace else None
    sess = Session(workdir, cores, event_log=ev_dir)
    phases = {"session_s": time.perf_counter() - t_start}
    try:
        wl = WORKLOADS[args.workload](
            sess.spark, workdir, args.seed, args.seconds, args.size == "tiny"
        )
        setup_times = []
        # a traced run reports no setup_s: one set-up is enough
        for rep in range(1 if args.trace else wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t0)
        details = {"workload": args.workload, "stamp": measure.stamp(
            sess.spark, ROOT, os.path.join(ROOT, "arches_rascoll_etl_spark"),
            args.seed, cores,
        )}
        steal0 = measure.host_steal_s()
        if args.trace:
            # the engine's public functions are wrapped for the timed phase
            tr = tracing.Tracer(sess.spark.sparkContext)
            undo = tracing.install(tr, os.path.join(workdir, "run", "quarantine"))
            try:
                m = wl.measure(tr, "run")
            finally:
                undo()
            rss = measure.tree_peak_rss_mb()
            sess.spark.stop()  # flushes the event log
            result_m, table = per_layer(tr, m, rss, tracing.fold_event_log(ev_dir))
            print(tracing.format_table(args.workload, *table))
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tr.write(os.path.join(out, f"spans-{args.workload}-s{args.seed}.json"))
        else:
            t0 = time.perf_counter()
            m = wl.measure(tracing.NoTracer(), "run")
            phases["measure_s"] = time.perf_counter() - t0
            result_m = end_to_end(m, setup_times)
        phases["host_steal_s"] = measure.host_steal_s() - steal0
        details.update(
            samples(m), extra=m.extra, setup_s=setup_times, phases=phases,
            peak_rss_mb=measure.tree_peak_rss_mb(),
        )
    finally:
        sess.stop(end_jvm=True)
    return details, {
        "correct": m.failed == 0,
        "attempted": m.attempted,
        "failed": m.failed,
        "metrics": result_m,
    }


def samples(m) -> dict:
    """The samples behind the end-to-end timings, with counts and tails."""
    from measure import TAIL_BEYOND, p50, tail

    out = {}
    for name, xs in (("batch_ms", m.batch_ms), ("lookup_ms", m.lookup_ms),
                     ("changes_ms", m.extra.get("changes_ms"))):
        if xs:
            out[name] = {"n": len(xs), "p50": p50(xs), "values": xs}
            if len(xs) > TAIL_BEYOND:
                v, pct = tail(xs)
                out[name].update(tail=v, tail_pct=round(pct, 1))
    return {"samples": out}


def per_layer(tr, traced, peak_rss_mb: float, spark_metrics: dict) -> tuple[dict, tuple]:
    """Per-layer metrics of the traced run, and its layer table."""
    import tracing
    from measure import p50

    spans = tr.spans
    rows, wall = tracing.layer_table(spans)
    unattributed = dict(rows)["unattributed"]
    ms = lambda name: tracing.inclusive_ms(spans, name)  # noqa: E731
    c = tr.counts
    applied = c.get("merge_applied", 0)
    replay_ms = ms("pipeline.replay")
    replay_ids = {s["id"] for s in spans if s["name"] == "pipeline.replay"}
    child_ms = 1000 * sum(s["end"] - s["start"] for s in spans if s["parent"] in replay_ids)
    debt = tr.samples.get("snapshot.delta_debt.max_files", [])
    affected = tr.samples.get("snapshot.merge.affected_buckets", [])
    n_batches = len(traced.batch_ms)
    jobs = sum(v for k, v in spark_metrics.items() if k.endswith(".jobs"))
    vals = {
        "pipeline.replay_ms": (replay_ms, "ms"),
        "pipeline.self_ms": (replay_ms - child_ms, "ms"),
        "pipeline.merge_attempts": (c.get("merge_calls", 0) / applied if applied else 0.0, "ratio"),
        "snapshot.merge_ms": (ms("snapshot.merge"), "ms"),
        "snapshot.merge.stats_ms": (c.get("snapshot.merge.stats_ms", 0.0), "ms"),
        "snapshot.merge.apply_ms": (c.get("snapshot.merge.apply_ms", 0.0), "ms"),
        "snapshot.merge.commit_ms": (c.get("snapshot.merge.commit_ms", 0.0), "ms"),
        "snapshot.merge.affected_buckets": (p50(affected) if affected else 0.0, "count"),
        "snapshot.files_written": (traced.extra.get("files_written", 0), "count"),
        "snapshot.bytes_written": (traced.extra.get("bytes_written", 0), "bytes"),
        "snapshot.read_keys_ms": (ms("snapshot.read_keys"), "ms"),
        "snapshot.read_changes_ms": (ms("snapshot.read_changes"), "ms"),
        "snapshot.read_changes.rows": (c.get("snapshot.read_changes.rows", 0), "count"),
        "snapshot.compact_ms": (ms("snapshot.compact"), "ms"),
        "snapshot.delta_debt.max_files": (max(debt) if debt else 0, "count"),
        "bloom.build_ms": (ms("bloom.build"), "ms"),
        "quarantine.merge_ms": (ms("quarantine.merge"), "ms"),
        "quarantine.rows": (traced.extra.get("quarantine_rows", 0), "count"),
        "txn.split_ms": (ms("txn.split"), "ms"),
        "txn.carryover_rows": (c.get("txn.carryover_rows", 0), "count"),
        "checkpoint.record_ms": (ms("checkpoint.record"), "ms"),
        "checkpoint.bytes": (traced.extra.get("checkpoint_bytes", 0), "bytes"),
        "lineage.partition_ms": (ms("lineage.partition"), "ms"),
        "lineage.append_ms": (ms("lineage.append"), "ms"),
        "dedup.lsh_pairs_ms": (ms("dedup.lsh_pairs"), "ms"),
        "dedup.clusters_ms": (ms("dedup.clusters"), "ms"),
        "dedup.corpus_ms": (ms("dedup.corpus"), "ms"),
        "dedup.lookup_ms": (ms("dedup.lookup"), "ms"),
        "dedup.pairs": (traced.extra.get("pairs", 0), "count"),
        "dedup.clusters": (traced.extra.get("clusters", 0), "count"),
        "trace.wall_ms": (wall * 1000, "ms"),
        "trace.attributed_share": (1 - unattributed / wall, "ratio"),
        "trace.unattributed_ms": (unattributed * 1000, "ms"),
        "trace.count_ms": (ms("trace.count"), "ms"),
        # against throughput_per_s of untraced runs, this gives the overhead
        "trace.throughput_per_s": (traced.work / traced.work_wall_s, "1/s"),
    }
    vals["spark.jobs_per_batch"] = (jobs / n_batches, "count")
    vals["process.peak_rss_mb"] = (peak_rss_mb, "MiB")
    vals.update({k: (v, _spark_unit(k)) for k, v in spark_metrics.items()})
    return _unit_metrics(vals), (rows, wall)


def _spark_unit(name: str) -> str:
    field = name.rsplit(".", 1)[1]
    if field.endswith("_ms"):
        return "ms"
    if field.endswith("_bytes"):
        return "bytes"
    return "ratio" if field.startswith("skew") else "count"


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the smallest inputs that still yield every metric (tests)")
    args = p.parse_args(argv)

    workdir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    # every temp file, Spark local dir and worker scratch stays in the workdir
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = os.path.join(
        workdir, "spark-local"
    )
    # The engine's 16g default heap is larger than this class of host (the
    # JVM was OOM-killed at ~16 GB RSS on a 15 GB machine): pin a heap that
    # fits, unless the caller chose one
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        details, result = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(details, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
