"""Benchmark entry point: one workload per run, one JSON result line.

    python3 etl_bench/run.py --workload nightly_etl --seed 1 --seconds 12 --trace 0

Run from the repository root.  Inputs are generated from ``--seed`` under
``.bench_work/`` in the checkout, the engine is imported from the checkout,
and everything the run created (files, JVM, Python workers) is gone when it
exits.  With ``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer metrics; diagnostics go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# Task threads: local[3] on the 4-core machine the benchmark was built on,
# leaving a core to the Python driver, the JIT and GC (README.md has the
# measurement behind the choice).
CPUS = 3
# Driver heap, pinned (-Xms = -Xmx) so heap sizing does not vary per run.
# It is not pre-touched, so the JVM's peak RSS still follows the heap used.
HEAP = "2g"


def process_start() -> float:
    """``time.time()`` at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


class Bench:
    """One run's private work directory, Spark session and clean-up."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.t_process = process_start()
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        # everything the engine, Spark and Python workers write stays here
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        # the environment variable, not spark.local.dir: it takes precedence
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_DRIVER_MEM"] = HEAP
        # Python workers import the engine from the checkout, whatever the cwd
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--driver-java-options",
            # no hsperfdata file under /tmp: the run writes only in its work dir
            f'"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"',
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", f"spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}",
            "pyspark-shell",
        ])
        self.spark = None
        self.jvm_pid = None
        self.diag: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self, cpus: int = CPUS):
        from historic_score_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"bench-{self.workload}", cpus=cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        self.diag.setdefault("session_ready_at_s", round(time.time() - self.t_process, 3))
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def close(self) -> None:
        """Stop Spark and its JVM, wait for every child process to end and
        remove the work directory."""
        from pyspark import SparkContext

        from etl_bench.trace import proc_descendants

        kids = proc_descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = gateway.proc
                gateway.shutdown()
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        alive = _wait_gone(kids, 20)
        self.diag["leftover_children"] = len(alive)
        for k in alive:
            try:
                os.kill(k, signal.SIGKILL)
            except OSError:
                pass
        _wait_gone(alive, 10)
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _wait_gone(pids: list[int], seconds: float) -> list[int]:
    """Wait up to ``seconds`` for ``pids`` to end; return those still alive."""
    deadline = time.time() + seconds
    alive = [p for p in pids if _alive(p)]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    return alive


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie child is reaped and counts as gone)."""
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        if done:
            return False
    except ChildProcessError:
        pass
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import historic_score_etl_pipeline_spark  # noqa: F401
        from etl_bench.workloads import WORKLOADS
    except ImportError as e:
        print(f"etl_bench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"etl_bench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    from etl_bench.trace import cpu_times, steal_share

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    cpu0 = cpu_times()
    try:
        result = WORKLOADS[args.workload](bench)
    finally:
        bench.close()
    bench.diag["wall_s"] = round(time.time() - bench.t_process, 3)
    bench.diag["cpu_steal_share"] = round(steal_share(cpu0, cpu_times()), 5)
    print("etl_bench diag " + json.dumps(bench.diag, sort_keys=True), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
