"""Benchmark entry point.

    python3 streambench/run.py --workload <cdc_stream|corpus_dedup|lake_serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Every run gets a fresh work directory
under ``.bench_work/`` and a fresh engine process (and so a fresh JVM);
the runner samples the engine's memory from outside it, stops whatever the
engine left running, and prints one JSON object as its last line:

- ``--trace 0``: every end-to-end metric;
- ``--trace 1``: every per-layer metric from a run with the Spark event
  log on, plus the tracing overhead as traced/untraced ratios of the
  end-to-end metrics (the untraced side is the latest untraced run of the
  workload in this checkout; 0 when there is none yet).

The exit code is 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import procstat  # noqa: E402
import spec  # noqa: E402

CHILD_TIMEOUT_S = 165


def _group_alive(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a process group."""
    alive = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            alive.append(int(name))
    return alive


def _reap_group(pgid: int, timeout: float = 20.0) -> None:
    """Wait for every process of the engine's group to exit, killing the
    ones still there after a grace period (JVM, Python workers)."""
    deadline = time.time() + timeout / 2
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.1)
    if _group_alive(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        deadline = time.time() + timeout / 2
        while _group_alive(pgid) and time.time() < deadline:
            time.sleep(0.1)
    if _group_alive(pgid):
        raise RuntimeError(f"engine processes {_group_alive(pgid)} did not exit")


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def run_child(workload: str, seed: int, seconds: float, trace: bool, root: str) -> dict:
    work = os.path.join(root, f"{workload}-{seed}-{'t' if trace else 'u'}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), workload, str(seed),
             str(seconds), "1" if trace else "0", work],
            stdout=sys.stderr,
            stdin=subprocess.DEVNULL,
            start_new_session=True,
        )
        try:
            with procstat.PeakSampler(proc.pid, os.path.join(work, "exclude.pids")) as sampler:
                try:
                    rc = proc.wait(timeout=CHILD_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    rc = None
        finally:
            # also on SIGTERM/SIGINT: never leave the engine's JVM behind
            _reap_group(proc.pid, timeout=20.0 if proc.poll() is not None else 2.0)
            proc.wait()
        if rc is None:
            raise RuntimeError(f"{workload} run exceeded {CHILD_TIMEOUT_S} s")
        if rc != 0:
            raise RuntimeError(f"{workload} engine process exited with {rc}")
        with open(os.path.join(work, "result.json")) as fh:
            result = json.load(fh)
        result["e2e"]["peak_rss_mb"] = sampler.peak_mb
        result.setdefault("detail", {})["at_peak_mb"] = {
            k: round(v, 1) for k, v in sampler.at_peak.items()
        }
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isfile(os.path.join(REPO, "aws_kinesis_spark", "__init__.py")):
        print("streambench: the engine package aws_kinesis_spark is not in this checkout",
              file=sys.stderr)
        return 2
    root = os.path.join(REPO, ".bench_work")
    cache = os.path.join(root, "untraced", f"{args.workload}.json")
    try:
        if args.trace:
            untraced = {}
            if os.path.exists(cache):
                with open(cache) as fh:
                    untraced = json.load(fh)
            result = run_child(args.workload, args.seed, args.seconds, True, root)
            metrics = result["per_layer"]
            for name, value in result["e2e"].items():
                # 0 = no untraced run of this workload in this checkout yet
                base = untraced.get(name)
                metrics[f"trace.overhead.{name}"] = value / base if base else 0.0
            units = layers.PER_LAYER
        else:
            result = run_child(args.workload, args.seed, args.seconds, False, root)
            metrics = result["e2e"]
            os.makedirs(os.path.dirname(cache), exist_ok=True)
            with open(cache, "w") as fh:
                json.dump(metrics, fh)
            units = {k: v[0] for k, v in layers.END_TO_END.items()}
    except (RuntimeError, OSError, ValueError, KeyError) as exc:
        print(f"streambench: {type(exc).__name__}: {exc}", file=sys.stderr)
        return 1
    missing = set(units) - set(metrics)
    if missing:
        print(f"streambench: metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 1
    print(json.dumps({"workload": args.workload, "seed": args.seed, **result.get("detail", {})}))
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["attempted"] - result["ok"]),
                "metrics": {
                    name: {"value": float(metrics[name]), "unit": units[name]}
                    for name in units
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
