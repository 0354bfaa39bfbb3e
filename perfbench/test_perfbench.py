"""Tests of the benchmark's own pieces (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import gzip
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import archives  # noqa: E402
import eventlog  # noqa: E402
from layers import _stage_layer, _verify_rows  # noqa: E402
from cdx_writer_spark.pages_gen import bulk_rows, edge_case_rows  # noqa: E402
from cdx_writer_spark.warc_source import archive_to_rows  # noqa: E402


def _rows():
    return edge_case_rows() + bulk_rows(60, seed=5, n_files=3)


def test_writer_members_partition_each_archive(tmp_path):
    written = archives.write_archives(_rows(), str(tmp_path))
    by_file = {}
    for rec in written:
        by_file.setdefault(rec["warc_file"], []).append(rec)
    assert sorted(by_file) == sorted(os.listdir(tmp_path))
    for name, recs in by_file.items():
        data = (tmp_path / name).read_bytes()
        pos = 0
        for rec in recs:
            assert rec["offset"] == pos
            member = data[pos:pos + rec["compressed_size"]]
            assert gzip.decompress(member) == archives.record_bytes(
                rec["warc_headers"], rec["html"])
            pos += rec["compressed_size"]
        assert pos == len(data)


def test_writer_is_deterministic(tmp_path):
    archives.write_archives(_rows(), str(tmp_path / "a"))
    archives.write_archives(_rows(), str(tmp_path / "b"))
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == \
            (tmp_path / "b" / name).read_bytes()


def test_writer_skips_rows_bytes_cannot_carry(tmp_path):
    rows = _rows()
    written = archives.write_archives(rows, str(tmp_path))
    urls = {r["url"] for r in written}
    assert "http://urls.example.com/a b/c\rd" not in urls      # CR in URL
    assert "http://status.example.com/negative-cl" not in urls
    assert "http://robots.example.com/huge" not in urls         # CL lies
    assert len(written) == sum(
        archives.record_headers(r) is not None for r in rows)
    assert len(written) > len(rows) - 10


def test_parser_reads_back_what_was_written(tmp_path):
    """The rows the oracle is given are the rows the parser yields."""
    written = archives.write_archives(_rows(), str(tmp_path))
    parsed = []
    for name in sorted(os.listdir(tmp_path)):
        parsed.extend(archive_to_rows(str(tmp_path / name),
                                      (tmp_path / name).read_bytes()))
    assert len(parsed) == len(written)
    keys = ("url", "raw_date", "record_type", "content_type", "html",
            "warc_headers", "content_length", "offset", "compressed_size",
            "warc_file")
    for got, want in zip(parsed, written):
        assert {k: got[k] for k in keys} == {k: want[k] for k in keys}


# --- event log ---------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _plan(target):
    return {
        "nodeName": "Execute InsertIntoHadoopFsRelationCommand",
        "simpleString": f"Execute InsertIntoHadoopFsRelationCommand "
                        f"{target}, false, Parquet, [path={target}]",
        "metrics": [{"name": "job commit time", "accumulatorId": 1,
                     "metricType": "timing"}],
        "children": [{
            "nodeName": "ArrowEvalPython",
            "simpleString": "ArrowEvalPython [f(a#1)#2, g(b#3)#4], "
                            "[pythonUDF0#5, pythonUDF1#6], 200",
            "metrics": [
                {"name": "time to run Python workers", "accumulatorId": 2,
                 "metricType": "nsTiming"},
                {"name": "data sent to Python workers", "accumulatorId": 3,
                 "metricType": "size"}],
            "children": [{"nodeName": "Exchange", "simpleString": "Exchange",
                          "metrics": [], "children": []}]}]}


def _task(stage, run_ms, acc_updates):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"ID": i, "Name": "m", "Update": str(v), "Metadata": "sql"}
                for i, v in acc_updates]},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": 2_000_000,
                "JVM GC Time": 3, "Peak Execution Memory": run_ms * 10,
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 7,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                         "Local Bytes Read": 10},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                "Input Metrics": {"Bytes Read": 5},
                "Output Metrics": {"Bytes Written": 50}}}


def _write_log(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    first = [
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "description": "parquet", "time": 1000,
         "physicalPlanDescription": "== Physical Plan ==",
         "sparkPlanInfo": _plan("file:/s/round_00001/frontier")},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.sql.execution.id": "0"}},
        _task(0, 40, [(2, 1_500_000_000), (3, 2 * 2**20)]),
    ]
    second = [
        _task(0, 60, [(2, 500_000_000), (3, 2**20)]),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Name": "s0", "RDD Info": [
                {"Name": "r", "Scope": json.dumps({"id": "1",
                                                   "name": "Window"}),
                 "Storage Level": {"Use Memory": True}}]}},
        {"Event": _SQL + "SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[1, 250]]},
        {"Event": _SQL + "SparkListenerSQLExecutionEnd", "executionId": 0,
         "time": 2000},
    ]
    # parts are read in index order: 2 before 10
    (d / "events_2_local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in first))
    (d / "events_10_local-1").write_text(
        "".join(json.dumps(e) + "\n" for e in second))
    (d / "appstatus_local-1").write_text("")
    return tmp_path


def test_eventlog_parses_rolling_dir(tmp_path):
    log = eventlog.parse(str(_write_log(tmp_path)))
    x = log.executions[0]
    assert (x.start_ms, x.end_ms, x.jobs) == (1000, 2000, [0])
    assert x.write_target == "file:/s/round_00001/frontier"
    assert x.round_subdir == "round_00001/frontier"
    assert x.count_nodes("ArrowEvalPython") == 1
    assert x.count_nodes("Exchange") == 1
    udf = next(n for n in x.nodes if n.name == "ArrowEvalPython")
    assert log.metric(udf, "time to run Python workers") == 2.0   # ns -> s
    assert log.metric(udf, "data sent to Python workers") == 3 * 2**20
    root = x.nodes[0]
    assert log.metric(root, "job commit time") == 0.25             # ms -> s
    s = log.stages[0]
    assert s.execution_id == 0 and s.tasks == 2
    assert (s.run_ms, s.cpu_ns, s.gc_ms) == (100, 4_000_000, 6)
    assert s.peak_mem == 600                                      # max
    assert (s.shuffle_read, s.shuffle_write) == (22, 200)
    assert (s.spill_disk, s.input_bytes, s.output_bytes) == (14, 10, 100)
    assert s.scopes == {"Window"} and s.cached_rdds == ["r"]
    assert _stage_layer(s) == "priority"


def test_eventlog_reads_a_plain_file(tmp_path):
    _write_log(tmp_path)
    d = tmp_path / "eventlog_v2_local-1"
    plain = tmp_path / "plain"
    plain.write_text((d / "events_2_local-1").read_text()
                     + (d / "events_10_local-1").read_text())
    assert eventlog.parse(str(plain)).stages[0].run_ms == 100


def _node(name, simple="", rows_acc=None, children=()):
    metrics = ([{"name": "number of output rows", "accumulatorId": rows_acc,
                 "metricType": "sum"}] if rows_acc is not None else [])
    return {"nodeName": name, "simpleString": simple or name,
            "metrics": metrics, "children": list(children)}


def test_verify_rows_counts_the_seen_table_anti_join_once(tmp_path):
    cached = _node("InMemoryTableScan", rows_acc=9, children=[
        _node("Scan parquet ", rows_acc=8)])
    verify = _node("BroadcastHashJoin", "BroadcastHashJoin [k], [k], "
                   "LeftAnti, BuildRight", rows_acc=1, children=[
                       _node("Project", children=[
                           _node("Filter", rows_acc=2, children=[cached])]),
                       _node("BroadcastExchange", children=[
                           _node("Scan parquet ", rows_acc=3)])])
    # the round's other anti join builds on a cached frame, which was
    # itself read from parquet
    pending = _node("BroadcastHashJoin", "BroadcastHashJoin [k], [k], "
                    "LeftAnti, BuildRight", rows_acc=4, children=[
                        _node("Scan parquet ", rows_acc=5),
                        _node("BroadcastExchange", children=[cached])])
    events = [
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": x,
         "time": 1000, "physicalPlanDescription": "",
         "sparkPlanInfo": _node("Union", children=[verify, pending])}
        for x in (0, 1)]   # the cached verify shows in both plans
    events.append({"Event": _SQL + "SparkListenerDriverAccumUpdates",
                   "executionId": 0,
                   "accumUpdates": [[2, 142], [5, 1020], [9, 2558]]})
    f = tmp_path / "log"
    f.write_text("".join(json.dumps(e) + "\n" for e in events))
    assert _verify_rows(eventlog.parse(str(f)), [0, 1]) == 142
