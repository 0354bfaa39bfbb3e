"""The traced run: per-layer metrics, measured from outside the program.

Three sources, none of which changes the program or its plans:

* spans the benchmark puts around calls into the modules' public
  functions.  For the CDX workloads each layer is timed as a prefix of
  the pipeline written to Spark's ``noop`` sink (``warc_source.read_warc``;
  then ``job.cdx_flagged`` + ``job.cdx_line_column``; then the full
  ``sink`` write), and a layer's self time is its span minus the prefix
  it contains.  For the crawl each ``frontier.loop.run_round`` call is a
  span.
* Spark's event log, attached only for the traced runs: per-operator
  SQL metrics (Python-worker time, bytes to and from Python workers,
  rows), per-stage task metrics, and plan node counts.
* the crawl's own ``metrics/`` checkpoint rows and state directories.

``trace.overhead_s`` is the traced median wall time minus the untraced
median wall time of the same run.
"""

from __future__ import annotations

import glob
import os
import re
import statistics
import sys
import time

import pyarrow.parquet as pq

import eventlog

MiB = 2 ** 20
UNITS = {
    "warc_source.self_s": "s", "warc_source.python_s": "s",
    "warc_source.records": "count", "warc_source.archive_mb": "MiB",
    "warc_source.arrow_mb_out": "MiB",
    "warc_source.worker_peak_rss_mb": "MiB",
    "fields.self_s": "s", "fields.python_s": "s",
    "fields.mb_to_python": "MiB", "fields.python_nodes": "count",
    "fields.python_udfs": "count",
    "fields.admitted_ratio": "ratio",
    "sink.self_s": "s", "sink.shuffle_write_mb": "MiB",
    "sink.shuffle_read_mb": "MiB", "sink.spill_mb": "MiB",
    "sink.output_mb": "MiB", "sink.exchange_nodes": "count",
    "frontier.round_s.median": "s", "frontier.round_s.max": "s",
    "frontier.priority.self_s": "s", "frontier.fetch.self_s": "s",
    "frontier.fetch.shuffle_mb": "MiB", "frontier.seen.probe_s": "s",
    "frontier.seen.fold_s": "s", "frontier.seen.candidates": "count",
    "frontier.seen.maybe_seen": "count",
    "frontier.seen.verify_rows": "count",
    "frontier.seen.false_pos_ratio": "ratio",
    "frontier.seen.filter_mb": "MiB", "frontier.commit.self_s": "s",
    "frontier.commit.mb_written": "MiB", "frontier.pending_rows": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "trace.overhead_s": "s",
}
PYTHON_TIME = "time to run Python workers"
TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"
MAP_IN_PYTHON = ("MapInPandas",)   # warc_source.read_warc's kernel
# the output list of an ArrowEvalPython node: one pythonUDF<i> per UDF
_UDF_OUT = re.compile(r"\], \[(pythonUDF\d+#\d+(?:, pythonUDF\d+#\d+)*)\]")


class EventLogTap:
    """Spark's own EventLoggingListener, attached to the running
    context for the traced runs only (the untraced runs of the same
    process pay nothing for it)."""

    def __init__(self, spark, log_dir: str):
        os.makedirs(log_dir, exist_ok=True)
        self.log_dir = log_dir
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        jvm = sc._jvm
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.jsc.applicationId(), jvm.scala.Option.apply(None),
            jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            self.jsc.conf(), self.jsc.hadoopConfiguration())
        self.listener.start()
        self.jsc.addSparkListener(self.listener)

    def close(self) -> eventlog.EventLog:
        self.jsc.listenerBus().waitUntilEmpty()
        self.jsc.removeSparkListener(self.listener)
        self.listener.stop()
        return eventlog.parse(self.log_dir)


def _timed(fn, n: int) -> float:
    """Median wall time of ``n`` calls of ``fn``."""
    times = []
    for _ in range(n):
        t0 = time.time()
        fn()
        times.append(time.time() - t0)
    return statistics.median(times)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _in_window(log: eventlog.EventLog, rec: dict) -> list[int]:
    lo = rec["start"] * 1000 - 1
    hi = (rec["start"] + rec["wall_s"]) * 1000 + 1
    return [x.execution_id for x in log.executions.values()
            if lo <= x.start_ms <= hi]


def _nodes(log, xids, names) -> list:
    return [n for x in xids for n in log.executions[x].nodes
            if n.name in names]


def _spark_metrics(log, xids) -> dict:
    stages = log.stages_of(xids)
    return {
        "spark.executor_run_s": sum(s.run_ms for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "spark.jobs": sum(len(log.executions[x].jobs) for x in xids),
        "spark.tasks": sum(s.tasks for s in stages),
    }


def _cdx_rep(log, rec) -> dict:
    xids = _in_window(log, rec)
    m = _spark_metrics(log, xids)
    src = _nodes(log, xids, MAP_IN_PYTHON)
    scans = [n for x in xids for n in log.executions[x].nodes
             if n.name.startswith("Scan binaryFile")]
    if src:
        m["warc_source.python_s"] = sum(
            log.metric(n, PYTHON_TIME) for n in src)
        m["warc_source.records"] = sum(
            log.metric(n, "number of output rows") for n in src)
        m["warc_source.arrow_mb_out"] = sum(
            log.metric(n, FROM_PYTHON) for n in src) / MiB
        m["warc_source.archive_mb"] = sum(
            log.metric(n, "size of files read") for n in scans) / MiB
        m["warc_source.worker_peak_rss_mb"] = rec["worker_rss_mb"]
    udfs = _nodes(log, xids, ("ArrowEvalPython",))
    m["fields.python_s"] = sum(log.metric(n, PYTHON_TIME) for n in udfs)
    m["fields.mb_to_python"] = sum(
        log.metric(n, TO_PYTHON) for n in udfs) / MiB
    m["fields.python_udfs"] = sum(
        len(_UDF_OUT.search(n.simple).group(1).split(","))
        for n in udfs if _UDF_OUT.search(n.simple))
    m["fields.python_nodes"] = max(
        (log.executions[x].count_nodes("ArrowEvalPython") for x in xids),
        default=0)
    stats = rec["stats"]
    m["fields.admitted_ratio"] = (stats["num_records_included"]
                                  / stats["num_records_processed"])
    stages = log.stages_of(xids)
    m["sink.shuffle_write_mb"] = sum(s.shuffle_write for s in stages) / MiB
    m["sink.shuffle_read_mb"] = sum(s.shuffle_read for s in stages) / MiB
    m["sink.spill_mb"] = sum(s.spill_disk for s in stages) / MiB
    m["sink.output_mb"] = sum(s.output_bytes for s in stages) / MiB
    m["sink.exchange_nodes"] = max(
        (log.executions[x].count_nodes("Exchange") for x in xids),
        default=0)
    return m


def _cdx_spans(w, n: int) -> dict:
    """Prefix spans: source alone, source + field operators; the full
    sink write is the traced run itself."""
    from cdx_writer_spark.job import (CDXConfig, cdx_flagged,
                                      cdx_line_column, file_order_cols)
    from pyspark.sql import functions as F

    cfg = CDXConfig()

    def lines():
        flagged = cdx_flagged(w.pages(), cfg)
        return (flagged.filter(F.col("admitted") & ~F.col("excluded"))
                .select(*file_order_cols(flagged),
                        cdx_line_column(cfg).alias("cdx_line")))

    return {"source": _timed(lambda: _noop(w.pages()), n),
            "fields": _timed(lambda: _noop(lines()), n)}


# --- crawl ----------------------------------------------------------------

def _stage_layer(s: eventlog.Stage) -> str:
    """Which crawl layer a stage's work belongs to, from the operators
    in its RDD scopes and the persisted frames of ``run_round`` it
    builds or reads (see README, "Crawl stage rules")."""
    cached = " ".join(s.cached_rdds)
    if "Window" in s.scopes:
        return "priority"        # per-host top-k (priority.select_batch)
    if "ArrowEvalPython" in s.scopes or "ObjectHashAggregate" in s.scopes:
        return "fold"            # filter fold (seen.update_filters)
    if "REPARTITION_BY_COL" in cached:
        return "fetch"           # prepared web + the fetch join
    if "Union" in s.scopes or "bits_longs" in cached:
        return "probe"           # Bloom probe + exact verify of maybes
    if "WriteFiles" in s.scopes or "CollectMetrics" in s.scopes:
        return "commit"          # checkpoint writes
    return "other"


def _dir_mb(paths) -> float:
    return sum(os.path.getsize(f) for p in paths
               for f in glob.glob(os.path.join(p, "**"), recursive=True)
               if os.path.isfile(f)) / MiB


def _subtree(node: eventlog.Node, into_cache: bool = True):
    """``node`` and its descendants; the plan a cached frame was built
    by is left out unless ``into_cache``."""
    yield node
    if into_cache or node.name != "InMemoryTableScan":
        for c in node.children:
            yield from _subtree(c, into_cache)


def _verify_rows(log, xids) -> int:
    """Rows into the exact verify: the probe side of each left-anti
    join whose build side scans parquet itself (the exact seen table;
    the other left-anti join of a round builds on a cached frame).  A
    cached join shows in the plan of every execution that reads the
    cache, so each row counter is counted once, by accumulator id."""
    rows: dict[int, float] = {}
    for x in xids:
        for n in log.executions[x].nodes:
            if ("LeftAnti" not in n.simple or len(n.children) != 2
                    or not any(c.name.startswith("Scan parquet")
                               for c in _subtree(n.children[1],
                                                 into_cache=False))):
                continue
            probe = next((c for c in _subtree(n.children[0])
                          if "number of output rows" in c.metrics), None)
            if probe is not None:
                acc = probe.metrics["number of output rows"][0]
                rows[acc] = log.metric(probe, "number of output rows")
    return int(sum(rows.values()))


def _crawl_rep(log, rec) -> dict:
    xids = _in_window(log, rec)
    m = _spark_metrics(log, xids)
    m["frontier.seen.verify_rows"] = _verify_rows(log, xids)
    by_layer: dict[str, list] = {}
    for s in log.stages_of(xids):
        by_layer.setdefault(_stage_layer(s), []).append(s)
    run_s = {k: sum(s.run_ms for s in v) / 1e3 for k, v in by_layer.items()}
    m["frontier.priority.self_s"] = run_s.get("priority", 0.0)
    m["frontier.fetch.self_s"] = run_s.get("fetch", 0.0)
    m["frontier.fetch.shuffle_mb"] = sum(
        s.shuffle_write for s in by_layer.get("fetch", ())) / MiB
    m["frontier.seen.probe_s"] = run_s.get("probe", 0.0)
    m["frontier.seen.fold_s"] = run_s.get("fold", 0.0)
    m["frontier.commit.self_s"] = run_s.get("commit", 0.0)
    rounds = rec["round_s"]
    m["frontier.round_s.median"] = statistics.median(rounds)
    m["frontier.round_s.max"] = max(rounds)
    m.update(rec["state"])
    return m


def _crawl_state(out: str) -> dict:
    """Counts from the crawl's checkpoint: the ``metrics/`` rows of
    rounds >= 1, the last round's filters and pending frontier, and the
    bytes the rounds committed."""
    rdirs = sorted(glob.glob(os.path.join(out, "round_*")))
    last = rdirs[-1]
    rows = [r for d in rdirs[1:]
            for f in glob.glob(os.path.join(d, "metrics", "*.parquet"))
            for r in pq.read_table(f).to_pylist()
            if r["partition_id"] >= 0]
    cand = sum(r["candidates_in"] for r in rows)
    maybe = sum(r["maybe_seen"] for r in rows)
    new = sum(r["new_keys"] for r in rows)
    # a maybe-seen candidate that the exact check finds new is a false
    # positive: new = (cand - maybe) definitely-new + false positives
    false_pos = new - (cand - maybe)
    blobs = pq.read_table(os.path.join(last, "filters"),
                          columns=["filter_blob"]).column(0).to_pylist()
    return {
        "frontier.seen.candidates": cand,
        "frontier.seen.maybe_seen": maybe,
        "frontier.seen.false_pos_ratio": false_pos / maybe if maybe else 0.0,
        "frontier.seen.filter_mb": sum(len(b) for b in blobs) / MiB,
        "frontier.pending_rows": pq.read_table(
            os.path.join(last, "frontier"), columns=["surt_key"]).num_rows,
        "frontier.commit.mb_written": _dir_mb(rdirs[1:]),
    }


# --- entry point ------------------------------------------------------------

def layer_metrics(spark, runner, untraced: list[dict], seconds: float,
                  work: str) -> dict:
    w = runner.w
    crawl = w.name == "crawl_rounds"
    extra: dict[str, list] = {}

    if crawl:
        from cdx_writer_spark.frontier import loop

        run_round = loop.run_round

        def spanned(*a, **k):
            t0 = time.time()
            try:
                return run_round(*a, **k)
            finally:
                extra.setdefault("round_s", []).append(time.time() - t0)
        loop.run_round = spanned

    def after(rec: dict) -> None:
        rounds = extra.pop("round_s", [])
        if not rec["ok"]:
            return  # a failed run counts in `failed`, not in the table
        if crawl:
            rec["round_s"] = rounds
            rec["state"] = _crawl_state(runner.last_out)
        else:
            rec["stats"] = w.stats

    tap = EventLogTap(spark, os.path.join(work, "eventlog"))
    try:
        traced = runner.measure(seconds, after)
        spans = None if crawl else _cdx_spans(w, 3)
    finally:
        if crawl:
            loop.run_round = run_round
        log = tap.close()

    ok = [r for r in traced if r["ok"]]
    layer_reps = [_crawl_rep(log, r) if crawl else _cdx_rep(log, r)
                  for r in ok]
    out = {k: 0.0 for k in UNITS}
    for k in (layer_reps[0] if layer_reps else ()):
        out[k] = statistics.median(r[k] for r in layer_reps)
    full = statistics.median(r["wall_s"] for r in traced)
    if spans is not None:
        source = spans["source"]
        if w.name == "warc_cdx":
            out["warc_source.self_s"] = source
        out["fields.self_s"] = spans["fields"] - source
        out["sink.self_s"] = full - spans["fields"]
    out["trace.overhead_s"] = full - statistics.median(
        r["wall_s"] for r in untraced)
    print_table(w.name, out, log,
                [x for rec in ok for x in _in_window(log, rec)])
    return {k: {"value": round(float(v), 6), "unit": UNITS[k]}
            for k, v in out.items()}


def print_table(workload: str, metrics: dict, log, xids: list[int]) -> None:
    """The layer table of a traced run, on stderr; for the crawl also
    the executor time of the SQL executions that write each
    ``round_NNNNN/<subdir>`` checkpoint directory."""
    print(f"[perfbench] layer table: {workload}", file=sys.stderr)
    for k in UNITS:
        print(f"  {k:34s} {metrics[k]:14.4f} {UNITS[k]}", file=sys.stderr)
    writes: dict[str, list] = {}
    for x in xids:
        sub = log.executions[x].round_subdir
        if sub:
            writes.setdefault(sub, []).append(x)
    for sub in sorted(writes):
        run_s = sum(s.run_ms for s in log.stages_of(writes[sub])) / 1e3
        print(f"  write {sub:28s} {len(writes[sub]):4d} executions "
              f"{run_s:9.3f} s executor", file=sys.stderr)
