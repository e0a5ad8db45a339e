"""Measurement helpers: the tail-percentile rule, process-tree CPU and peak
RSS from /proc, and the host/conf stamp every result carries."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess

#: a tail is the highest percentile with at least this many samples beyond it
TAIL_BEYOND = 10

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that leaves at least
    ``TAIL_BEYOND`` samples above it. The sample at sorted index i has
    ``n - 1 - i`` samples beyond it, so the tail is index ``n - 1 - TAIL_BEYOND``,
    the ``(n - TAIL_BEYOND) / n`` percentile. Raises when there are too few
    samples for any tail to exist."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    return sorted(samples)[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n


def p50(samples: list[float]) -> float:
    return statistics.median(samples)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while scanning
            continue
        kids.setdefault(int(rest[1]), []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants: the
    Python driver, the Spark JVM and the JVM's Python workers."""
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, own and reaped children) of the tree."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 14-17 of stat(5): utime stime cutime cstime; rest[0] is field 3
        total += sum(int(x) for x in rest[11:15])
    return total / _CLK_TCK


def host_steal_s() -> float:
    """CPU seconds the hypervisor took from this host's CPUs since boot
    (the ``steal`` column of /proc/stat): its growth over a run shows how
    much of the run's wall went to other guests."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the tree of each process's kernel-tracked peak RSS (VmHWM)."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def source_digest(pkg_dir: str) -> str:
    """sha1 over the engine's .py files, path and content: names the code
    measured when the checkout is not a git repository."""
    h = hashlib.sha1()
    for d, _, files in sorted(os.walk(pkg_dir)):
        for f in sorted(files):
            if f.endswith(".py"):
                fp = os.path.join(d, f)
                h.update(os.path.relpath(fp, pkg_dir).encode())
                with open(fp, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def stamp(spark, root: str, pkg_dir: str, seed: int, cores: int) -> dict:
    """Host shape and effective conf of one run."""
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": _mem_total_kb(),
        "cores": cores,
        "spark.master": conf.get("spark.master", None),
        "spark.driver.memory": conf.get("spark.driver.memory", None),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_sha": _git_sha(root),
        "source_sha1": source_digest(pkg_dir),
        "seed": seed,
    }
