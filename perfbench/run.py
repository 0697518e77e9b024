#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed``, runs the workload through the package's public entry points,
checks every output, prints a human-readable summary and, as the last
line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).

All files go to a private directory under ``.perfbench_work/`` in the
repository root, removed at exit; the Spark session runs on
``local[nproc]`` with its driver memory sized to the host.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _host_env(work: str, trace: bool) -> str | None:
    """Environment for the package and its Spark session; returns the event
    log directory when tracing.  Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # a quarter of the host, at most 2 GB: the session's default (32g)
    # assumes a larger machine than a shared benchmark host
    driver_mb = max(1024, min(2048, mem_kb // 1024 // 4))
    # the heap is committed and touched at its cap up front, so peak RSS
    # does not depend on when the collector chose to grow the heap
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{driver_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData"
    submit = [f'--driver-java-options "{java_opts}"']
    event_log = None
    if trace:
        event_log = os.path.join(work, "eventlog")
        os.makedirs(event_log)
        submit += ["--conf spark.eventLog.enabled=true",
                   "--conf spark.eventLog.compress=false",
                   "--conf spark.eventLog.rolling.enabled=false",
                   f"--conf spark.eventLog.dir=file://{event_log}"]
    os.environ.update({
        # python workers import the package (the merge fold runs there)
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        # no hsperfdata files under the system /tmp, from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    return event_log


class MemSampler(threading.Thread):
    """Peak memory of this process and every descendant (the driver JVM and
    the Python workers), read from /proc every 100 ms.  Each process counts
    its proportional set size, so pages shared between processes (forked
    workers, a JVM's short-lived fork-exec children) count once."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _tree_pss_kb() -> int:
        parent = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        me, total = os.getpid(), 0
        for pid in parent:
            p = pid
            while p and p != me:
                p = parent.get(p, 0)
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
        return total

    def run(self):
        while not self._halt.wait(0.1):
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb())

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._halt.set()
        self.join()
        return self.peak_kb / 1024


def _stop_spark() -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
    except ImportError:
        return
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--records", type=int, default=5000, help="full_build corpus records")
    ap.add_argument("--orders", type=int, default=12000, help="search_serving orders rows")
    ap.add_argument("--queries", type=int, default=18, help="distinct search queries")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_pipeline_spark")) or not os.path.isfile(
            os.path.join(ROOT, "bench.py")):
        print(f"perfbench: no data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    sampler = None
    try:
        event_log = _host_env(work, bool(args.trace))
        os.chdir(work)  # the serving model's managed tables land in ./spark-warehouse
        sys.path[:0] = [HERE, ROOT]
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        import bench

        spin_s = bench._spin_canary()
        ctx = workloads.Ctx(work=work, seed=args.seed, seconds=args.seconds,
                            trace=bool(args.trace), event_log=event_log, records=args.records,
                            orders=args.orders, queries=args.queries)
        sampler = MemSampler()
        sampler.start()
        t = time.perf_counter()
        metrics = workloads.WORKLOADS[args.workload](ctx)
        wall = time.perf_counter() - t
        _stop_spark()
        peak_mb = sampler.stop()
        sampler = None
        if args.trace:
            metrics = metrics["per_layer"]
            metrics["canary.spin_s"] = spin_s
            for k in ("canary.spark_s", "session.start_s", "model.materialize_s"):
                if k in ctx.notes:
                    metrics[k] = ctx.notes[k]
            units = {k: workloads.layer_unit(k) for k in metrics}
            out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            metrics["peak_pss_mb"] = (peak_mb, "MB")
            out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        print(f"# {args.workload} seed={args.seed} trace={args.trace} wall={wall:.1f}s "
              f"cpus={os.environ['SPARK_GRAFT_CPUS']} spin_canary={spin_s}s "
              f"notes={json.dumps(ctx.notes, sort_keys=True)}")
        print(f"# error_rate={ctx.failed / max(1, ctx.attempted):.4f} "
              f"({ctx.failed} of {ctx.attempted} operations)")
        for k, m in out.items():
            print(f"{k:40s} {m['value']:>16.6g} {m['unit']}")
        if ctx.attempted == 0:
            ctx.attempted, ctx.failed = 1, 1
        print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                          "failed": ctx.failed, "metrics": out}))
        return 0
    finally:
        if sampler is not None:
            sampler.stop()
        _stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
