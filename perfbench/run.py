"""The repo benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload warc_cdx --seed 1 --seconds 10 \
        --trace 0

Runs from the root of a checkout.  It starts one local[4] Spark
session (at most ``nproc`` task slots, at most 3 GiB driver heap),
makes the workload's inputs from ``--seed`` and makes one untimed cold
run (set-up ends there).  More untimed runs warm the JIT; then the job
repeats for ``--seconds`` seconds and at least three times.
Every run's output is checked against an oracle; a run that raises or
fails the check counts in ``failed``.  The last stdout line is the
result JSON: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1`` (see perfbench/README.md).  All files go under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SLOTS = min(4, len(os.sched_getaffinity(0)))
DRIVER_MEMORY = "3g"
# the median needs at least 3 runs; a crawl run is ~7 s, so its window
# is a little longer than --seconds
MIN_RUNS = 3

END_TO_END_UNITS = {
    "wall_s": "s", "lines_per_s": "1/s", "urls_per_s": "1/s",
    "cpu_s": "s", "peak_rss_mb": "MiB", "setup_s": "s",
}


def build_session(work: str):
    from pyspark.sql import SparkSession

    # no -Xms: the heap grows with what the job touches, so a change in
    # the program's heap use moves peak_rss_mb
    spark = (
        SparkSession.builder.master(f"local[{SLOTS}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.default.parallelism", str(SLOTS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # read by the event-log listener a traced run attaches
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process the
    session started (JVM, Python worker daemon, workers) has ended."""
    import proctree
    from pyspark import SparkContext

    pids = [p for p in proctree.descendants(os.getpid())
            if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    proctree.wait_gone(pids)


class Runner:
    """Times repeated runs of one workload and checks each output."""

    def __init__(self, workload, work: str):
        import proctree

        self.w = workload
        self.work = work
        self.sampler = proctree.Sampler()
        self.reps: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self._n = 0

    def once(self, timed: bool = True) -> dict:
        """One run into a fresh output directory; returns its record."""
        self._n += 1
        out = os.path.join(self.work, "out", f"run_{self._n:04d}")
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
        os.makedirs(os.path.dirname(out))
        self.last_out = out
        self.sampler.start()
        t0 = time.time()
        try:
            items = self.w.run(out)
        except Exception:
            items = None
            traceback.print_exc()
        wall = time.time() - t0
        cpu, rss, worker_rss = self.sampler.stop()
        rec = {"ok": False, "start": t0, "wall_s": wall, "items": items or 0,
               "cpu_s": cpu, "peak_rss_mb": rss, "worker_rss_mb": worker_rss}
        if items is not None:
            try:
                errors = self.w.check(out)
            except Exception:
                traceback.print_exc()
                errors = ["the check raised"]
            rec["ok"] = not errors
            for e in errors[:5]:
                print(f"[perfbench] check failed: {e}", file=sys.stderr)
        self.attempted += 1
        self.failed += not rec["ok"]
        if timed:
            self.reps.append(rec)
        return rec

    def measure(self, seconds: float, after=None) -> list[dict]:
        """Timed runs until ``seconds`` have passed and at least
        MIN_RUNS were made; ``after(rec)`` sees each run's record while
        its output still exists."""
        first = len(self.reps)
        t0 = time.monotonic()
        while (len(self.reps) - first < MIN_RUNS
               or time.monotonic() - t0 < seconds):
            rec = self.once()
            if after is not None:
                after(rec)
        return self.reps[first:]


def end_to_end(reps: list[dict], setup_s: float) -> dict:
    med = lambda k: statistics.median(r[k] for r in reps)  # noqa: E731
    rate = statistics.median(r["items"] / r["wall_s"] for r in reps)
    values = {
        "wall_s": med("wall_s"),
        "lines_per_s": rate,
        "urls_per_s": rate,
        "cpu_s": med("cpu_s"),
        "peak_rss_mb": med("peak_rss_mb"),
        "setup_s": setup_s,
    }
    return {k: {"value": round(v, 6), "unit": END_TO_END_UNITS[k]}
            for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test is the checkout's package; import it (and
    # fail) before anything starts
    sys.path[:0] = [ROOT, HERE]
    import cdx_writer_spark
    from workloads import WORKLOADS

    if not os.path.abspath(cdx_writer_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"cdx_writer_spark imported from outside the checkout: "
                 f"{cdx_writer_spark.__file__}")

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every file Python, the JVMs (the launcher's too) and Spark write
    # goes under `work`; SPARK_LOCAL_DIRS would override spark.local.dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    w = WORKLOADS[args.workload]()

    spark = None
    try:
        t0 = time.monotonic()
        spark = build_session(work)
        w.prepare(spark, os.path.join(work, "input"), args.seed)
        t1 = time.monotonic()
        w.expect()   # the oracle: neither set-up nor timed
        t2 = time.monotonic()
        runner = Runner(w, work)
        # warm-up: untimed, but checked and counted.  The first run pays
        # the cold JVM (class loading, codegen, Python workers) and ends
        # set-up; the next runs still run 10-30% slow while the JIT
        # catches up.  The workload's `warm_runs` of them are neither
        # set-up nor measured
        cold = runner.once(timed=False)["wall_s"]
        setup_s = (t1 - t0) + cold
        warm = [runner.once(timed=False)["wall_s"]
                for _ in range(w.warm_runs)]
        print(f"[perfbench] set-up {setup_s:.1f}s (session+inputs "
              f"{t1 - t0:.1f}s, cold run {cold:.1f}s), oracle "
              f"{t2 - t1:.1f}s, JIT warm-up runs (s): "
              + " ".join(f"{x:.2f}" for x in warm), file=sys.stderr)
        reps = runner.measure(args.seconds)
        if args.trace:
            import layers
            metrics = layers.layer_metrics(spark, runner, reps, args.seconds,
                                          work)
        else:
            metrics = end_to_end(reps, setup_s)
    finally:
        if spark is not None:
            stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    failed_frac = runner.failed / runner.attempted
    print("[perfbench] measured runs (s): " + " ".join(
        f"{r['wall_s']:.2f}" for r in runner.reps), file=sys.stderr)
    print(f"[perfbench] {args.workload} seed={args.seed} "
          f"runs={runner.attempted} failed_frac={failed_frac:.3f}")
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
