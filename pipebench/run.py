"""Benchmark of the parse → route → write pipeline and of dedup.

    python3 pipebench/run.py --workload routed_write --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One invocation is one fresh process and
one fresh Spark session running one workload (see workloads.py):

1. generate the inputs from ``--seed`` (untimed);
2. set up ``SETUPS`` times: start a session with ``session.get_spark``,
   register the input, compile, force the physical plan. The first set-up
   launches the JVM; each later one stops the session and builds it again
   in the same JVM. ``setup_s`` is the median of those later set-ups, so
   it reads a warm-JVM set-up; the JVM launch is in the traced
   ``session.start_s``;
3. run the first job (``first_job_s``): cold codegen, JIT of the
   execution paths and Python worker start, after ``SETUPS`` planning
   passes;
4. run jobs back to back for about ``--seconds`` (at least ``MIN_TIMED``):
   the timed window. It starts right after the first job: the JIT goes on
   compiling for more jobs than any run can afford (README, Job loop), so
   the window takes the median over all its jobs instead of waiting for a
   level. ``seq_per_s`` comes from the median job wall, ``cpu_s`` is the
   median CPU per job of the whole process tree, ``peak_rss_mb`` the peak
   summed RSS of the tree during the window. With ``--trace 1`` the window
   is instead untraced, traced, traced, untraced jobs, and the per-layer
   metrics (layers.py) are reported;
5. check every job's output (check.py), stop the session and wait for
   every process the run started.

The last stdout line is the result object; the line before it is the run
record (host load, input fingerprint, settings, per-job walls).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import host  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Host settings, identical on every commit measured. local[2] leaves two
# of the four CPUs to the Python workers (one per task), GC and JIT
# threads; a fixed 2 GiB heap (initial = max) replaces get_spark's 16g
# default, so the heap does not grow at a run-dependent pace.
CORES = 2
HEAP = "2g"
JAVA_OPTS = (f"-Xms{HEAP} -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 "
             "-XX:CICompilerCount=2")
SETUPS = 3
MIN_TIMED = 2


def spark_conf(run_dir: str) -> dict:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.driver.extraJavaOptions": f"{JAVA_OPTS} -Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


class Runner:
    def __init__(self, wl, seconds: float, tracer=None):
        self.wl = wl
        self.seconds = seconds
        self.tracer = tracer
        self.jobs: list[dict] = []
        self.spark = None
        self.leftover: list[int] = []

    # -- session -------------------------------------------------------- #
    def setup(self) -> float:
        """Start (or restart) the session and plan the workload."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        from lumbermill_spark import session

        if self.tracer:
            if self.spark is None:
                self.tracer.install()
            self.tracer.enabled, self.tracer.job = True, None
        self.spark = session.get_spark(
            "pipebench", cores=CORES, extra_conf=spark_conf(self.wl.run_dir))
        self.spark.sparkContext.setLogLevel("ERROR")
        with (self.tracer.span("pipeline.plan") if self.tracer
              else contextlib.nullcontext()):
            self.wl.setup(self.spark)
        if self.tracer:
            self.tracer.enabled = False  # traced jobs switch it on
        return time.perf_counter() - t0

    def job(self, phase: str) -> dict:
        i = len(self.jobs)
        self.spark.sparkContext.setJobGroup(f"job{i}", f"job{i}")
        if self.tracer:
            self.tracer.job = i
        pids = host.tree()
        cpu0 = host.tree_cpu_s(pids)
        t0 = time.perf_counter()
        rec = {"i": i, "phase": phase, "error": None, "result": None}
        try:
            rec["result"] = self.wl.job(self.spark, i)
        except Exception:  # a failed job is counted, the run goes on
            rec["error"] = traceback.format_exc(limit=3)
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = host.tree_cpu_s(host.tree()) - cpu0
        self.jobs.append(rec)
        return rec

    def run(self) -> dict:
        setups = [self.setup() for _ in range(SETUPS)]
        first = self.job("first")
        traced = []
        with host.RssPeak() as rss:
            if self.tracer:
                # alternating order, so drift along the run cancels out of
                # the traced-minus-untraced difference
                for on in (False, True, True, False):
                    if on:
                        traced.append(layers.traced_job(self))
                    else:
                        self.job("timed")
            else:
                # no job is started that would likely end past the window
                t_win, walls = time.perf_counter(), []
                while (len(walls) < MIN_TIMED or time.perf_counter() - t_win
                       + statistics.median(walls) <= self.seconds):
                    walls.append(self.job("timed")["wall"])
        timed = [j for j in self.jobs if j["phase"] == "timed"]
        wall = statistics.median(j["wall"] for j in timed)
        out = {
            "setup_walls": setups,
            "setup_s": statistics.median(setups[1:]),
            "first_job_s": first["wall"],
            "seq_per_s": self.wl.rows / wall,
            "cpu_s": statistics.median(j["cpu"] for j in timed),
            "peak_rss_mb": rss.peak,
        }
        if self.tracer:
            out["layers"], out["layer_extras"] = layers.measure(
                self, traced, wall)
        return out

    # -- checks --------------------------------------------------------- #
    def verify(self) -> int:
        """Check every job; returns the number failed. A job fails when it
        raised, when its scan read no bytes (a reused plan), or when its
        output differs from the reference."""
        time.sleep(0.5)  # let the listener bus deliver the last events
        closeable, verify = self.wl.checker(self.spark)
        failed = 0
        for j in self.jobs:
            if j["error"] is None:
                scanned = layers.stage_metrics(self.spark, f"job{j['i']}")
                errors = (["scan read 0 bytes"]
                          if scanned["input_bytes"] <= 0 else [])
                errors += verify(j["i"], j["result"])
                if errors:
                    j["error"] = "; ".join(errors)
            failed += j["error"] is not None
        if closeable is not None:
            closeable.close()
        return failed

    def stop(self) -> None:
        """Stop the session and wait until the JVM, the PySpark daemon
        and its workers have exited."""
        from pyspark import SparkContext

        pids = host.tree()
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=20)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.leftover = host.reap(pids)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lumbermill_spark")):
        print(f"no lumbermill_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".pipebench",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "input", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    # every temp file of Python, PySpark and the JVM stays in the run dir
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["LMS_DRIVER_MEM"] = HEAP
    sys.path.insert(0, ROOT)

    record = host.HostRecord()
    wl = WORKLOADS[args.workload](run_dir, args.seed)
    fingerprint = wl.generate()
    runner = Runner(wl, args.seconds, layers.Tracer() if args.trace else None)
    try:
        res = runner.run()
        failed = runner.verify()
    finally:
        runner.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    hostrec = record.finish(host.tree_cpu_s())
    hostrec["leftover_pids_killed"] = len(runner.leftover)

    attempted = len(runner.jobs)
    run_record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": fingerprint, "host": hostrec,
        "settings": {"cores": CORES, "heap": HEAP, "java_opts": JAVA_OPTS,
                     "setups": SETUPS, "min_timed_jobs": MIN_TIMED,
                     "rows": wl.rows},
        "setup_walls": [round(x, 4) for x in res["setup_walls"]],
        "jobs": [{"i": j["i"], "phase": j["phase"], "wall": round(j["wall"], 4),
                  "cpu": round(j["cpu"], 3), "error": j["error"]}
                 for j in runner.jobs],
    }
    if args.trace:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in res["layers"].items()}
        run_record["layer_extras"] = {k: {"value": v, "unit": u} for k, (v, u)
                                      in res["layer_extras"].items()}
        trace_file = os.path.join(ROOT, ".pipebench",
                                  f"trace-{wl.name}-{args.seed}.json")
        runner.tracer.write(trace_file, {**run_record, **runner.trace_detail,
                                         "metrics": metrics})
        run_record["trace_file"] = os.path.relpath(trace_file, ROOT)
    else:
        metrics = {
            "seq_per_s": {"value": res["seq_per_s"], "unit": "1/s"},
            "first_job_s": {"value": res["first_job_s"], "unit": "s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "cpu_s": {"value": res["cpu_s"], "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
    print(json.dumps(run_record))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
