"""Tests of the benchmark's own logic (no JVM needed).

  python3 -m pytest perfbench/tests -q
"""
import hashlib
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import layers  # noqa: E402
import report  # noqa: E402

# Call sites recorded from SQL execution start events and job stage details
# (library and harness frames kept, innermost first).
PROBE = [
    "org.apache.spark.sql.classic.Dataset.isEmpty(Dataset.scala:558)",
    "graft.pipeline.PipeGraph.$anonfun$runCycle$10(PipeGraph.scala:293)",
    "graft.pipeline.PipeGraph.runCycle(PipeGraph.scala:293)",
    "graft.pipeline.PipeGraph.$anonfun$run$3(PipeGraph.scala:249)"]
LOG_WRITE = [
    "org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)",
    "perfbench.Harness$Crawl.$anonfun$run$9(Harness.scala:212)",
    "graft.pipeline.PipeGraph.$anonfun$run$3(PipeGraph.scala:246)",
    "graft.pipeline.PipeGraph.run(PipeGraph.scala:233)"]
DEDUP_ROUND = [
    "org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)",
    "graft.operators.Dedup$.dedupClustersWithRounds(Dedup.scala:775)",
    "graft.operators.Dedup$.dedupClusters(Dedup.scala:730)",
    "graft.examples.LlmDataPipeline$.$anonfun$build$6(LlmDataPipeline.scala:91)"]
FOOTER_PROBE = [
    "org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:57)",
    "graft.Tables$.table(Tables.scala:16)",
    "graft.Tables$.customer(Tables.scala:20)",
    "graft.queries.CoreQueries$.$anonfun$all$16(CoreQueries.scala:257)"]
NOOP_WRITE = [
    "org.apache.spark.sql.classic.DataFrameWriter.save(DataFrameWriter.scala:126)",
    "perfbench.Harness$Relational.$anonfun$program$13(Harness.scala:224)",
    "perfbench.Harness$Op.span(Harness.scala:38)"]


def test_innermost_library_frame_names_the_module():
    assert layers.attribute(PROBE)[0] == "pipeline"
    assert layers.attribute(LOG_WRITE)[0] == "pipeline"
    assert layers.attribute(DEDUP_ROUND)[0] == "operators.Dedup"
    assert layers.attribute(FOOTER_PROBE)[0] == "Tables"
    assert layers.attribute(NOOP_WRITE) == (None, None)
    assert layers.parse_frame(DEDUP_ROUND[1]) == (
        "graft.operators.Dedup$", "dedupClustersWithRounds", 775)


def test_module_names():
    assert layers.module_of("graft.pipeline.PipeGraph$Builder") == "pipeline"
    assert layers.module_of("graft.queries.CoreQueries$") == "queries"
    assert layers.module_of("graft.SparkEntry$") == "queries"
    assert layers.module_of("graft.Sessions$") == "Sessions"
    assert layers.module_of("graft.operators.TextAnalysis$$$Lambda/0x00007f3c") == \
        "operators.TextAnalysis"
    assert layers.module_of("graft.operators.Similarity$") == "operators.other"
    assert layers.module_of("graft.streaming.StreamingOps$") == "other"


def _job(i, start, end, execution, callsite=()):
    return {"id": i, "start": start, "end": end, "exec": execution,
            "stages": [i], "callsite": "\n".join(callsite)}


def _stage(i, task_ms):
    return {"id": i, "tasks": 1, "task_ms": task_ms, "wait_ms": 0, "gc_ms": 0,
            "in_records": 10, "in_bytes": 0, "out_bytes": 0, "shuffle_write": 0,
            "shuffle_read": 0}


def _op(spans, execs, jobs, stages, obs=None):
    return {"spans": [{"name": "program", "layer": "bench", "start": 0, "end": 1000}, *spans],
            "execs": execs, "jobs": jobs, "stages": stages, "obs": obs or {},
            "blocks_live_end": 0, "storage_peak_blocks": 0, "peak_storage_bytes": 0}


def test_jobs_attributed_through_their_sql_execution():
    # Job 2 ran on an AQE thread: its own call site has no user frame, but
    # its SQL execution's stack does.
    op = _op(
        [{"name": "PipeGraph.run", "layer": "pipeline", "start": 100, "end": 900,
          "seconds": 0.8}],
        [{"id": 7, "root": 7, "start": 100, "end": 400, "desc": "isEmpty at PipeGraph.scala:293",
          "frames": PROBE, "sink": None},
         {"id": 8, "root": 8, "start": 500, "end": 800, "desc": "parquet at Harness.scala:212",
          "frames": LOG_WRITE, "sink": "log"}],
        [_job(1, 50, 90, -1, FOOTER_PROBE),
         _job(2, 100, 400, 7, ["org.apache.spark.rdd.RDD.count(RDD.scala:1)"]),
         _job(3, 500, 800, 8)],
        [_stage(1, 40), _stage(2, 300), _stage(3, 600)])
    m = layers.op_layers(op, cpus=4, input_rows=10)
    assert m["Tables.jobs"] == 1
    assert m["pipeline.probe_jobs"] == 1 and m["pipeline.probe_s"] == 0.3
    assert m["spark.eager_jobs"] == 2  # footer probe and frontier probe
    assert m["spark.driver_gap_s"] == pytest.approx(1.0 - 0.04 - 0.3 - 0.3)
    assert m["self_s.pipeline"] == pytest.approx(0.8 - 0.6 + 0.6)
    assert m["trace.unattributed_share"] == 0.0
    assert m["spark.scan_amp"] == 3.0


def test_query_action_jobs_belong_to_the_module_defining_the_query():
    # The noop write's stack holds only harness frames; the job is the
    # Dedup module's because q17 is defined there.  A harness job outside
    # any query action stays unattributed.
    op = _op(
        [{"name": "exec:q17_exact_dedup", "layer": "spark", "start": 100, "end": 500}],
        [{"id": 7, "root": 7, "start": 100, "end": 500, "desc": "save at Harness.scala:224",
          "frames": NOOP_WRITE, "sink": None},
         {"id": 8, "root": 8, "start": 600, "end": 800, "desc": "save at Harness.scala:224",
          "frames": NOOP_WRITE, "sink": None}],
        [_job(1, 100, 400, 7), _job(2, 600, 800, 8)],
        [_stage(1, 300), _stage(2, 200)],
        {"queries": [{"name": "q17_exact_dedup",
                      "defined_in": "graft.operators.Dedup$$$Lambda/0x00007f3c"}]})
    m = layers.op_layers(op, cpus=4, input_rows=10)
    assert m["operators.Dedup.jobs"] == 1 and m["operators.Dedup.task_s"] == 0.3
    assert m["self_s.operators"] == pytest.approx(0.3)
    assert m["spark.eager_jobs"] == 1
    assert m["trace.unattributed_share"] == pytest.approx(0.2 / 0.5)


def test_highest_percentile_needs_ten_samples_beyond_it():
    assert report.highest_percentile(range(19)) is None
    assert report.highest_percentile(range(20)) == (50, 9)
    assert report.highest_percentile(range(99))[0] == 75
    assert report.highest_percentile(range(100)) == (90, 89)
    assert report.highest_percentile(range(1000))[0] == 99


def _digest(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_inputs_and_ledger(tmp_path, workload):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert gen.generate(workload, 7, a) == gen.generate(workload, 7, b)
    assert _digest(a) == _digest(b)
    gen.generate(workload, 8, c)
    assert _digest(a) != _digest(c)


def test_corrupted_ledger_fails_the_run_and_the_check_carries_on(tmp_path):
    import run
    data = str(tmp_path / "data")
    gen.generate("crawl", 5, data)
    pages, depths = gen.ledger_depths(os.path.join(data, "crawl_ledger.parquet"))
    log = report.crawl_expected(pages, depths)
    result = {"ops": [{"obs": {"log": log}} for _ in range(3)]}
    result["ops"][1]["error"] = "java.lang.RuntimeException: boom"
    run.check("crawl", result, data, data)
    assert [op["failed"] for op in result["ops"]] == [0, 1, 0]
    # One page's depth off by one in the ledger: every run now disagrees
    # with it, and each one is reported.
    depths[0] += 1
    pq.write_table(pa.table({"page": pa.array(pages, pa.int64()),
                             "depth": pa.array(depths, pa.int32())}),
                   os.path.join(data, "crawl_ledger.parquet"))
    result = {"ops": [{"obs": {"log": log}} for _ in range(3)]}
    run.check("crawl", result, data, data)
    assert [op["failed"] for op in result["ops"]] == [1, 1, 1]
    assert result["ops"][2]["problems"][0].startswith("log depth sum")


def test_crawl_check_and_query_check():
    expected = report.crawl_expected([5, 6, 7], [0, 1, 1])
    assert report.check_crawl({"log": expected}, expected) == []
    assert report.check_crawl({"log": [3, 3, 3, 18, 13]}, expected) == ["log depth sum: 3 != 2"]
    q = lambda n, h: {"name": n, "hash": h}
    result = {"ops": [{"obs": {"queries": [q("q1", "a"), q("q2", "b")]}},
                      {"obs": {"queries": [q("q1", "a"), q("q2", "c")]}}]}
    report.check_queries(result, {"q1": None, "q2": None})
    assert [op["failed"] for op in result["ops"]] == [0, 1]
    report.check_queries(result, {"q1": "3 rows vs oracle 4, 2 differ", "q2": None})
    assert [op["failed"] for op in result["ops"]] == [1, 2]


def test_unreadable_ledger_file_fails_each_run(tmp_path):
    import run
    (tmp_path / "crawl_ledger.parquet").write_bytes(b"not parquet")
    result = {"ops": [{"obs": {"log": [1, 1, 0, 5, 0]}} for _ in range(2)]}
    run.check("crawl", result, str(tmp_path), str(tmp_path))
    assert [op["failed"] for op in result["ops"]] == [1, 1]
    assert result["ops"][0]["problems"][0].startswith("check raised")
