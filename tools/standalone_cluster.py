"""Launch path for a Spark STANDALONE cluster on one host.

Starts a real standalone master plus separate worker JVMs and runs the CDC
replay via ``spark-submit --master spark://… --py-files engine.zip``, the
deployment shape of a multi-executor cluster: each executor is its own JVM
with its own shuffle client, and the engine reaches it only through
``--py-files``. tests/test_standalone.py drives it end to end.
"""

from __future__ import annotations

import json
import os
import socket
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
SPARK_CLASS = os.path.join(SPARK_HOME, "bin", "spark-class")
SPARK_SUBMIT = os.path.join(SPARK_HOME, "bin", "spark-submit")


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_port(port: int, timeout_s: float = 60.0) -> None:
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=1):
                return
        except OSError:
            time.sleep(0.5)
    raise TimeoutError(f"port {port} never opened")


def _zip_engine() -> str:
    zpath = tempfile.mktemp(prefix="engine_", suffix=".zip")
    subprocess.run(
        ["zip", "-qr", zpath, "arches_rascoll_etl_spark", "-x", "*__pycache__*"],
        cwd=ROOT, check=True,
    )
    return zpath


class StandaloneCluster:
    """Context manager: one master + ``n_workers`` worker JVMs, all killed
    (process-group) on exit."""

    def __init__(self, n_workers: int, cores_per_worker: int, work_root: str):
        self.n_workers = n_workers
        self.cores = cores_per_worker
        self.work_root = work_root
        self.port = _free_port()
        self.master_url = f"spark://127.0.0.1:{self.port}"
        self._procs: list[subprocess.Popen] = []

    def _spawn(self, args: list[str], log: str) -> subprocess.Popen:
        env = dict(os.environ, SPARK_HOME=SPARK_HOME,
                   SPARK_LOG_DIR=self.work_root,
                   SPARK_NO_DAEMONIZE="1")
        with open(log, "w") as f:
            return subprocess.Popen(
                args, stdout=f, stderr=subprocess.STDOUT,
                start_new_session=True, env=env,
            )

    def __enter__(self):
        os.makedirs(self.work_root, exist_ok=True)
        self._procs.append(self._spawn(
            [SPARK_CLASS, "org.apache.spark.deploy.master.Master",
             "--host", "127.0.0.1", "--port", str(self.port),
             "--webui-port", "0"],
            os.path.join(self.work_root, "master.log"),
        ))
        _wait_port(self.port)
        for i in range(self.n_workers):
            wd = os.path.join(self.work_root, f"worker{i}")
            os.makedirs(wd, exist_ok=True)
            self._procs.append(self._spawn(
                [SPARK_CLASS, "org.apache.spark.deploy.worker.Worker",
                 self.master_url, "--cores", str(self.cores),
                 "--memory", "8g", "--webui-port", "0",
                 "--work-dir", wd],
                os.path.join(self.work_root, f"worker{i}.log"),
            ))
        self._wait_workers_registered()
        return self

    def _wait_workers_registered(self, timeout_s: float = 90.0) -> None:
        """Block until the master has registered every worker (worker JVM
        startup takes a few seconds; submitting earlier would run the app
        with fewer executors than the level claims)."""
        log = os.path.join(self.work_root, "master.log")
        t0 = time.time()
        while time.time() - t0 < timeout_s:
            try:
                with open(log) as f:
                    if f.read().count("Registering worker") >= self.n_workers:
                        return
            except FileNotFoundError:
                pass
            time.sleep(0.5)
        raise TimeoutError(
            f"only some of {self.n_workers} workers registered in {timeout_s}s"
        )

    def __exit__(self, *exc):
        import signal

        for p in reversed(self._procs):
            try:
                os.killpg(os.getpgid(p.pid), signal.SIGTERM)
            except (ProcessLookupError, PermissionError):
                pass
        deadline = time.time() + 10
        for p in self._procs:
            try:
                p.wait(timeout=max(0.1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                try:
                    os.killpg(os.getpgid(p.pid), signal.SIGKILL)
                except (ProcessLookupError, PermissionError):
                    pass

    def submit_replay(self, zip_path: str, events: str, workdir: str,
                      out: str, total_cores: int, timeout_s: float = 900.0) -> dict:
        env = dict(os.environ,
                   PYSPARK_PYTHON=sys.executable,
                   PYSPARK_DRIVER_PYTHON=sys.executable)
        # JVM ergonomics size GC/JIT thread pools from the HOST's core
        # count, not the executor's grant; cap them to the executor's own
        # cores, the usual multi-tenant setting.
        exec_jvm = (f"-XX:ParallelGCThreads={max(self.cores, 2)}"
                    " -XX:ConcGCThreads=1"
                    f" -XX:CICompilerCount={max(self.cores, 2)}")
        subprocess.run(
            [SPARK_SUBMIT,
             "--master", self.master_url,
             "--py-files", zip_path,
             "--conf", "spark.executor.memory=6g",
             "--conf", "spark.driver.memory=8g",
             "--conf", f"spark.executor.extraJavaOptions={exec_jvm}",
             "--conf", ("spark.driver.extraJavaOptions="
                        "-XX:ParallelGCThreads=4 -XX:ConcGCThreads=1"),
             "--conf", f"spark.cores.max={total_cores}",
             "--conf", "spark.ui.enabled=false",
             os.path.join(ROOT, "tools", "replay_submit_main.py"),
             "--cores", str(total_cores),
             "--events", events,
             "--workdir", workdir,
             "--out", out],
            cwd=ROOT, check=True, timeout=timeout_s, env=env,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        with open(out) as f:
            return json.load(f)
