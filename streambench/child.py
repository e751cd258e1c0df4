"""One measured run of one workload, in a fresh process with a fresh JVM.

    python3 child.py <workload> <seed> <seconds> <trace> <work_dir>

Started by ``run.py``, never directly. Writes ``<work_dir>/result.json``.
The engine is driven only through its public functions; the session comes
from ``aws_kinesis_spark.session.get_spark``, with launch-time confs set
through ``PYSPARK_SUBMIT_ARGS`` (event log for traced runs, a console
without progress bars, a progress history long enough for a run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import eventlog
import layers
import procstat
import spec

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


class Run:
    """State of one run: arguments, /proc marks, generator, session."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.t0 = time.time()
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.cpu_marks: dict[str, dict] = {}
        self.gen: subprocess.Popen | None = None
        self.spark = None
        self.spark_start_s = 0.0

    # -- /proc marks -------------------------------------------------------
    def mark_cpu(self, label: str) -> None:
        """Snapshot per-role CPU (traced runs only); the generator excluded."""
        if self.trace:
            exclude = {self.gen.pid} if self.gen else set()
            self.cpu_marks[label] = procstat.cpu_by_role(os.getpid(), exclude)

    def cpu_delta(self, role: str, a: str = "timed_start", b: str = "timed_end") -> float:
        return self.cpu_marks[b][role] - self.cpu_marks[a][role]

    # -- set-up ------------------------------------------------------------
    def start_generator(self) -> None:
        self.gen = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), self.workload,
             str(self.seed), str(self.seconds), self.work],
            stdin=subprocess.DEVNULL,
        )
        with open(os.path.join(self.work, "exclude.pids"), "w") as fh:
            fh.write(str(self.gen.pid))

    def wait_ready(self, timeout: float = 120) -> None:
        path = os.path.join(self.work, "ctl", "ready")
        deadline = time.time() + timeout
        while not os.path.exists(path):
            if self.gen.poll() is not None and self.gen.returncode != 0:
                raise RuntimeError(f"generator failed with {self.gen.returncode}")
            if time.time() > deadline:
                raise TimeoutError("generator not ready")
            time.sleep(0.01)

    def start_spark(self):
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a heap fixed at its maximum: peak RSS then tracks what the JVM
            # touches, not when G1 happened to grow the heap
            "spark.driver.extraJavaOptions": f"-Xms{spec.DRIVER_MEMORY}",
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
        )
        os.environ["SPARK_DRIVER_MEMORY"] = spec.DRIVER_MEMORY
        # keep every temporary file of the run (py4j connection info, native
        # libraries Spark extracts, artifact dirs) inside the work directory
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        # bounded glibc arenas: the JVM's native RSS otherwise depends on
        # how many threads happened to allocate at once
        os.environ["MALLOC_ARENA_MAX"] = "2"
        cpus = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_CPUS"] = cpus
        from aws_kinesis_spark.session import get_spark

        t = time.time()
        self.spark = get_spark(app_name=f"streambench-{self.workload}", cpus=cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark_start_s = time.time() - t
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
        if self.gen is not None:
            try:
                self.gen.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.gen.kill()
                self.gen.wait()

    def event_log(self) -> eventlog.EventLog:
        """Parse the event log; call after ``stop`` so it is complete."""
        path = eventlog.find_event_log(os.path.join(self.work, "eventlog"))
        return eventlog.parse_event_log(path)


def engine_metrics(run: Run, log: eventlog.EventLog, lo_ms: float, hi_ms: float) -> dict:
    """``engine.*`` over the jobs submitted inside the timed window."""
    jobs = [j for j in log.jobs if lo_ms <= j.submit_ms <= hi_ms]
    return {
        "engine.jobs": len(jobs),
        "engine.tasks": sum(j.tasks for j in jobs),
        "engine.executor_cpu_s": sum(j.executor_cpu_ms for j in jobs) / 1e3,
        "engine.executor_run_s": sum(j.executor_run_ms for j in jobs) / 1e3,
        "engine.shuffle_write_mb": sum(j.shuffle_write_bytes for j in jobs) / 2**20,
        "engine.spill_mb": sum(j.spill_bytes for j in jobs) / 2**20,
        "engine.gc_s": sum(j.gc_ms for j in jobs) / 1e3,
        "engine.jvm_cpu_s": run.cpu_delta("jvm"),
        "engine.python_worker_cpu_s": run.cpu_delta("python_worker"),
    }


def main(argv: list[str]) -> None:
    workload, seed, seconds, trace, work = (
        argv[0], int(argv[1]), float(argv[2]), argv[3] == "1", argv[4]
    )
    sys.path.insert(0, REPO)
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    run = Run(workload, seed, seconds, trace, work)
    if workload == "cdc_stream":
        import wl_cdc as wl
    elif workload == "corpus_dedup":
        import wl_dedup as wl
    else:
        import wl_lake as wl
    try:
        result = wl.run(run)
    finally:
        run.stop()
    if trace:
        per_layer = {name: 0.0 for name in layers.PER_LAYER}
        per_layer.update(wl.layer_metrics(run, result, run.event_log()))
        per_layer["session.spark_start_s"] = run.spark_start_s
        result["per_layer"] = per_layer
    result.pop("state", None)
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main(sys.argv[1:])
